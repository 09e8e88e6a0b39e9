"""Training-sequence packing: concatenate the token stream of the corpus
in deterministic doc order and chunk it into fixed-length sequences — the
GPT-pretraining data layout (documents may straddle sequence boundaries;
each token belongs to exactly one sequence).

The reference pipeline stops at chunk/embed/upsert (SURVEY §2.4-2.6);
packing is the step a TRAINING pipeline needs between curation and the
data loader, so it's first-class here alongside dedup/quality/sampling.

Scale notes: the only global dependency is an EXCLUSIVE prefix sum of
per-doc token counts in doc order. A naive window (`ORDER BY doc_id` with
no partition) serializes the corpus through one partition — the classic
single-partition-window hazard. :func:`_exclusive_prefix_sum` runs a
two-LEVEL scan entirely in-plan instead: per-bucket subtotals (map-side
combine, one tiny row per 8k docs), a within-SUPERBUCKET exclusive
window over bucket totals (≤8 192 rows per partition), and a global
exclusive window over the superbucket totals — whose grain is
n / 2²⁶ docs, i.e. ≤65 536 rows up to ~4.4×10¹² docs (a third level
applies beyond that). Offsets join back on the same ``__bkt``
partitioning the within-bucket window needs anyway, so no driver
round-trip and no data-scaling broadcast/collect remain. Everything
downstream is row-local integer arithmetic + a ≤2-element explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.tables import table

_PREFIX_BUCKET = 1 << 13  # docs per cumsum bucket (id-range, order-preserving)
_PREFIX_SUPER = 1 << 13  # buckets per superbucket (level-2 scan fan-in)


def _exclusive_prefix_sum(
    df: DataFrame, order_col: str, val_col: str, out_col: str
) -> DataFrame:
    """Adds ``out_col`` = sum of ``val_col`` over all rows strictly before
    this one in ``order_col`` order, without a global-order window and
    without a driver round-trip.

    Buckets by ``order_col`` value range (any deterministic order-respecting
    bucketing works; value range needs no extra shuffle key). Bucket
    offsets are computed IN-PLAN by a two-level scan: an exclusive window
    over bucket totals partitioned by superbucket (≤``_PREFIX_SUPER`` rows
    per partition), plus a global exclusive window over the superbucket
    totals — aggregate-bounded, superbucket grain (one row per
    ``_PREFIX_BUCKET·_PREFIX_SUPER`` = 2²⁶ docs). The offsets join back on
    ``__bkt``, the same key the within-bucket window shuffles by.
    """
    from pyspark.sql import Window as W

    bucket = F.floor(F.col(order_col) / F.lit(_PREFIX_BUCKET)).alias("__bkt")
    b = df.select(F.col(order_col), F.col(val_col), bucket)
    totals = (
        b.groupBy("__bkt")
        .agg(F.sum(val_col).alias("__t"))
        .withColumn("__sbkt", F.floor(F.col("__bkt") / F.lit(_PREFIX_SUPER)))
    )
    w_in = (
        W.partitionBy("__sbkt").orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    )
    w_super = W.orderBy("__sbkt").rowsBetween(W.unboundedPreceding, -1)
    super_off = (
        totals.groupBy("__sbkt")
        .agg(F.sum("__t").alias("__st"))
        .withColumn("__s_off", F.coalesce(F.sum("__st").over(w_super), F.lit(0)))
        .drop("__st")
    )
    odf = (
        totals.withColumn(
            "__in_off", F.coalesce(F.sum("__t").over(w_in), F.lit(0))
        )
        .join(F.broadcast(super_off), "__sbkt")
        .select(
            "__bkt", (F.col("__s_off") + F.col("__in_off")).alias("__bkt_off")
        )
    )
    w = (
        W.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        b.join(odf, "__bkt")
        .withColumn(
            out_col,
            F.col("__bkt_off") + F.coalesce(F.sum(val_col).over(w), F.lit(0)),
        )
        .drop("__bkt", "__bkt_off")
    )


def sequence_pack(
    df: DataFrame,
    max_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc → training-sequence span mapping. Token stream = whitespace
    tokens of every doc with >0 tokens, concatenated in ascending
    ``id_col`` order; sequence ``s`` owns token positions
    ``[s·max_len, (s+1)·max_len)``.

    Returns one row per (doc, sequence) overlap:
      - ``seq_id``        — sequence index
      - ``doc_id``
      - ``seq_tok_start`` — position of this doc's first token IN the seq
      - ``doc_tok_start`` — first doc token landing in this seq
      - ``n_tok``         — tokens of this doc in this seq

    A doc spans ``floor(off/L) … floor((off+n-1)/L)`` — for typical
    doc ≪ max_len that's 1-2 rows, emitted by a bounded sequence()
    explode (never a join). All integer math → bit-exact oracle.
    """
    L = max_len
    ws = TXT.words(F.col(text_col))
    docs = df.select(F.col(id_col), F.size(ws).alias("n_tok")).filter(
        F.col("n_tok") > 0
    )
    # (doc_id, n_tok) is 16 B/row; pin it so the prefix-sum's driver
    # collect and the final span plan don't each re-run the corpus
    # word-split (the dominant cost — plan census r6, same pattern as
    # bm25/retrieval tf pins)
    docs = docs.localCheckpoint(eager=True)
    with_off = _exclusive_prefix_sum(docs, id_col, "n_tok", "off")
    spans = with_off.select(
        id_col,
        "n_tok",
        "off",
        F.explode(
            F.sequence(
                F.floor(F.col("off") / L),
                F.floor((F.col("off") + F.col("n_tok") - 1) / L),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("off"), F.col("seq_id") * L)
    hi = F.least(F.col("off") + F.col("n_tok"), (F.col("seq_id") + 1) * L)
    return spans.select(
        "seq_id",
        id_col,
        (lo - F.col("seq_id") * L).alias("seq_tok_start"),
        (lo - F.col("off")).alias("doc_tok_start"),
        (hi - lo).alias("n_tok"),
    ).orderBy("seq_id", id_col)


def sequence_pack_stats(
    df: DataFrame, max_len: int = 512, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-sequence readout of :func:`sequence_pack`: how many docs feed
    each sequence and how full it is (the final sequence may be short)."""
    m = sequence_pack(df, max_len, text_col, id_col)
    return (
        m.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
        .orderBy("seq_id")
    )


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_pack(table(spark, sf_dir, "documents"), max_len=512)


def q_sequence_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_pack_stats(table(spark, sf_dir, "documents"), max_len=512)


_PACK_CTE = rf"""
d AS (
  SELECT doc_id,
         len({TXT.words_sql()})
           AS n_tok
  FROM documents
), d2 AS (
  SELECT doc_id, n_tok,
         COALESCE(CAST(SUM(n_tok) OVER (ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS BIGINT), 0) AS off
  FROM d WHERE n_tok > 0
), spans AS (
  SELECT doc_id, n_tok, off, s.seq_id
  FROM d2, UNNEST(range(CAST(floor(off / 512) AS BIGINT),
                        CAST(floor((off + n_tok - 1) / 512) AS BIGINT) + 1))
           AS s(seq_id)
), m AS (
  SELECT seq_id, doc_id,
         GREATEST(off, seq_id * 512) - seq_id * 512 AS seq_tok_start,
         GREATEST(off, seq_id * 512) - off AS doc_tok_start,
         LEAST(off + n_tok, (seq_id + 1) * 512) - GREATEST(off, seq_id * 512)
           AS n_tok
  FROM spans
)
"""

SEQUENCE_PACK_SQL = f"""
WITH {_PACK_CTE}
SELECT seq_id, doc_id, seq_tok_start, doc_tok_start, n_tok
FROM m ORDER BY seq_id, doc_id
"""

SEQUENCE_PACK_STATS_SQL = f"""
WITH {_PACK_CTE}
SELECT seq_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM m GROUP BY seq_id ORDER BY seq_id
"""


# ----------------------------------------------- length-bucketed batching

BUCKET_WIDTH = 32
BATCH_SIZE = 16


def length_bucket_batches(
    df: DataFrame,
    bucket_width: int = BUCKET_WIDTH,
    batch_size: int = BATCH_SIZE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inference/training batch planning by LENGTH BUCKETING: group docs
    of similar token length into fixed-size batches so each batch pads to
    its own max length instead of the corpus max — the standard
    padding-waste eliminator for non-packed (per-example) serving, the
    complement of :func:`sequence_pack` (which concatenates instead).

    Output: one row per planned batch — (bucket, batch_idx, n_docs,
    max_len, sum_len, padding_waste = n_docs·max_len − sum_len). All
    integers; deterministic (docs ordered by (n_tokens, id) inside each
    bucket, so batch membership is total-order stable).

    Scale shape: project to (id, n_tokens) — two longs — before the one
    per-bucket rank window; then a hash aggregate per (bucket, batch).
    Padding waste reads off directly; total waste / sum_len is the
    batching efficiency a serving planner optimizes.

    Skew note: bucket populations follow the corpus length distribution,
    so one modal-length bucket can dominate; the window sorts 16-byte
    rows, which buys ~2 orders of headroom over sorting text, and past
    that the two-phase bucketed-rank pattern applies (see
    selection.quality_percentile_gate's few-giant-groups branch — here
    the sub-key would be the exact n_tokens value within the bucket).
    """
    from pyspark.sql import Window as W

    from wurzel_spark.functions import text as TXT

    toks = df.select(
        F.col(id_col).alias("id"), TXT.word_count(F.col(text_col)).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    # explicit floor on BOTH engines: DuckDB CAST(double AS BIGINT)
    # rounds-to-nearest while Spark's cast truncates — floor() agrees
    bucketed = toks.withColumn(
        "bucket", F.floor(F.col("n_tokens") / F.lit(bucket_width)).cast("long")
    )
    rn = F.row_number().over(
        W.partitionBy("bucket").orderBy(F.col("n_tokens").asc(), F.col("id").asc())
    )
    planned = bucketed.withColumn(
        "batch_idx", F.floor((rn - F.lit(1)) / F.lit(batch_size)).cast("long")
    )
    return (
        planned.groupBy("bucket", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
        )
        .select(
            "bucket",
            "batch_idx",
            "n_docs",
            "max_len",
            "sum_len",
            (F.col("n_docs") * F.col("max_len") - F.col("sum_len")).alias(
                "padding_waste"
            ),
        )
        .orderBy("bucket", "batch_idx")
    )


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_bucket_batches(table(spark, sf_dir, "documents"))


LENGTH_BUCKET_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id,
         len({TXT.words_sql()}) AS n_tokens
  FROM documents
), bucketed AS (
  SELECT id, n_tokens, CAST(FLOOR(n_tokens / {BUCKET_WIDTH}) AS BIGINT) AS bucket
  FROM toks WHERE n_tokens > 0
), planned AS (
  SELECT bucket, n_tokens,
         CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY bucket
                                        ORDER BY n_tokens ASC, id ASC) - 1)
                    / {BATCH_SIZE}) AS BIGINT) AS batch_idx
  FROM bucketed
)
SELECT bucket, batch_idx,
       COUNT(*) AS n_docs,
       CAST(MAX(n_tokens) AS INT) AS max_len,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste
FROM planned GROUP BY bucket, batch_idx ORDER BY bucket, batch_idx
"""
