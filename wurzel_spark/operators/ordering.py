"""Training-data ordering: deterministic train/val/test split assignment
and a global corpus shuffle — the two ordering steps between curation and
a training data loader.

The reference pipeline's determinism contract (sorted output before save,
SURVEY §2.7; step.py's repeatability tests) extends naturally here: both
operators are pure integer arithmetic over ids, so every re-run — and
every failed-task retry — assigns the identical split and the identical
shuffle position. No RNG state, no sampling, nothing engine-specific.

Scale notes:
  - split assignment is a map-only filter-free projection (zero shuffles);
  - the global shuffle needs a total order, which a naive
    ``ROW_NUMBER() OVER (ORDER BY …)`` serializes through ONE window
    partition. This runs the two-phase form instead (same pattern as
    packing._exclusive_prefix_sum): hash-range buckets → per-bucket counts
    collected to the driver (fixed 1024 longs — size-guard class of a
    broadcast join) → broadcast offsets + within-bucket ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators import common
from wurzel_spark.tables import table

_N_BUCKETS = 1024


def train_split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    val_permille: int = 50,
    test_permille: int = 50,
) -> DataFrame:
    """Assign each row to train/val/test by a permille band of the id
    hash. Stable under corpus growth: a document's split never changes
    when other documents are added or removed (the property random
    splitting lacks and training pipelines need — eval contamination is
    forever once a doc flips bands).

    Map-only projection; the split filter a consumer applies pushes into
    the parquet scan.
    """
    band = common.knuth_hash(F.col(id_col)) % F.lit(1000)
    train_hi = 1000 - val_permille - test_permille
    split = (
        F.when(band < train_hi, F.lit("train"))
        .when(band < train_hi + val_permille, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def corpus_shuffle(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Global deterministic shuffle: ``shuffle_pos`` = 1-based rank of the
    row in ``(hash(id), id)`` order — the data-loader order for one
    training epoch, identical on every run and every engine.

    Two-phase total ranking (never a single-partition window): rows bucket
    by the hash's high bits (fixed 1024 ranges — uniform for a
    multiplicative hash), per-bucket counts collect to the driver (1024
    longs), a cumulative offset per bucket broadcasts back, and the final
    rank is offset + within-bucket ``row_number`` whose window partitions
    are bucket-bounded. At 100 TB each bucket is ~0.1% of the corpus and
    the driver state stays 8 KiB.
    """
    from pyspark.sql import Window as W

    h = common.knuth_hash(F.col(id_col))
    b = df.withColumn("__h", h).withColumn(
        "__bkt", F.floor(F.col("__h") / F.lit(4294967296 // _N_BUCKETS))
    )
    # Cumulative bucket offsets ride the plan as a BOUNDED global window
    # over the ≤ _N_BUCKETS-row count table (fixed 1024 buckets by
    # construction — GLOBAL_WINDOW_WHITELIST class) broadcast back to the
    # rows, instead of a separate collect job + driver fold: one job, no
    # driver barrier, identical offsets (r12; same trick in
    # curriculum_order).
    cum = W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = (
        b.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            "__bkt", F.coalesce(F.sum("__c").over(cum), F.lit(0)).alias("__off")
        )
    )
    w = W.partitionBy("__bkt").orderBy("__h", id_col)
    return (
        b.join(F.broadcast(offs), "__bkt")
        .withColumn("shuffle_pos", F.col("__off") + F.row_number().over(w))
        .drop("__h", "__bkt", "__off")
    )


def q_train_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, split) survival counts — the table you check before a
    training run to confirm the split permilles landed."""
    docs = train_split_assign(table(spark, sf_dir, "documents"))
    return (
        docs.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("source", "split")
    )


TRAIN_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT source, n_chars, doc_id,
         CASE WHEN {common.knuth_sql()} % 1000 < 900
              THEN 'train'
              WHEN {common.knuth_sql()} % 1000 < 950
              THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT source, split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM assigned
GROUP BY source, split
ORDER BY source, split
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        corpus_shuffle(table(spark, sf_dir, "documents"))
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id")
    )


CORPUS_SHUFFLE_SQL = f"""
WITH h AS (
  SELECT doc_id,
         {common.knuth_sql()} AS h
  FROM documents
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) AS shuffle_pos
FROM h
ORDER BY doc_id
"""


def split_leakage_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    val_permille: int = 50,
    test_permille: int = 50,
) -> DataFrame:
    """Train→eval leakage audit: after band-splitting the corpus, score
    every val/test document's ``n``-gram spans against the TRAIN split's
    span set — the in-corpus twin of benchmark decontamination
    (dedup.decontamination_overlap) and the check that catches eval
    contamination introduced by near-duplicates straddling a split.

    Output: one row per eval split — doc counts, how many docs leak at
    all, and the pooled span-level leakage fraction (exact int64 sums,
    one IEEE division — bit-stable).

    Scale shape: train spans reduce to distinct hashes (semi-joinable,
    broadcast when they fit, AQE otherwise) exactly like the eval-set
    table in decontamination; the val/test side streams (hash, id) longs.
    """
    from wurzel_spark.operators.dedup import decontamination_overlap, eval_span_hashes

    assigned = train_split_assign(df, id_col, val_permille, test_permille)
    train = assigned.filter(F.col("split") == "train").drop("split")
    eval_docs = assigned.filter(F.col("split") != "train")
    train_spans = eval_span_hashes(train, id_col, text_col, n)
    scored = decontamination_overlap(
        eval_docs.drop("split"), None, id_col, text_col, n, eval_spans=train_spans
    ).join(assigned.select(id_col, "split"), id_col)
    return (
        scored.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_contaminated") > 0).cast("long")).alias("n_leaky_docs"),
            F.sum("n_spans").alias("total_spans"),
            F.sum("n_contaminated").alias("leaked_spans"),
        )
        .select(
            "split",
            "n_docs",
            "n_leaky_docs",
            "total_spans",
            "leaked_spans",
            (
                F.col("leaked_spans").cast("double")
                / F.col("total_spans").cast("double")
            ).alias("leakage_frac"),
        )
        .orderBy("split")
    )


def q_split_leakage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_leakage_stats(table(spark, sf_dir, "documents"))


SPLIT_LEAKAGE_SQL = rf"""
WITH assigned AS (
  SELECT doc_id, text,
         CASE WHEN {common.knuth_sql()} % 1000 < 900
              THEN 'train'
              WHEN {common.knuth_sql()} % 1000 < 950
              THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), toks AS (
  SELECT doc_id, split,
         {TXT.words_sql()} AS ws
  FROM assigned
), nonempty AS (
  SELECT doc_id, split, ws, len(ws) AS m FROM toks WHERE len(ws) > 0
), spans AS (
  SELECT doc_id, split,
         CASE WHEN m >= 13
              THEN array_to_string(ws[t.i:t.i+12], ' ')
              ELSE array_to_string(ws, ' ') END AS g
  FROM nonempty, UNNEST(range(1, GREATEST(m - 11, 2))) AS t(i)
), train_spans AS (
  SELECT DISTINCT g FROM spans WHERE split = 'train'
), eval_scored AS (
  SELECT s.doc_id, s.split,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated
  FROM spans s LEFT JOIN train_spans t ON s.g = t.g
  WHERE s.split != 'train'
  GROUP BY s.doc_id, s.split
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_contaminated > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaky_docs,
       CAST(SUM(n_spans) AS BIGINT) AS total_spans,
       CAST(SUM(n_contaminated) AS BIGINT) AS leaked_spans,
       CAST(SUM(n_contaminated) AS DOUBLE) / CAST(SUM(n_spans) AS DOUBLE)
         AS leakage_frac
FROM eval_scored
GROUP BY split
ORDER BY split
"""


# ------------------------------------------------------ curriculum order

# Word-count band edges: the curriculum axis (short/simple docs first,
# long documents last — the standard warm-up ordering). Exact integer
# thresholds so band assignment is engine-exact.
CURRICULUM_BANDS = (50, 100, 200)


def _word_band(n_words):
    b = F.lit(len(CURRICULUM_BANDS))
    for i, edge in enumerate(reversed(CURRICULUM_BANDS)):
        b = F.when(n_words < edge, len(CURRICULUM_BANDS) - 1 - i).otherwise(b)
    return b


def curriculum_order(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Curriculum training order: documents sorted by difficulty band
    (word-count bands here; swap in any exact-integer difficulty score),
    deterministically shuffled WITHIN each band — the "easy first, random
    within stage" order curriculum schedules feed the data loader.

    Same two-phase total ranking as :func:`corpus_shuffle`, with the
    band as the major key: rows bucket by (band, hash-range), per-bucket
    counts collect to the driver (≤ bands×1024 longs), cumulative
    offsets broadcast back, final position = offset + within-bucket
    row_number. No single-partition window at any scale.
    """
    from pyspark.sql import Window as W

    ws = TXT.words(F.col("text"))
    h = common.knuth_hash(F.col(id_col))
    b = (
        df.select(id_col, F.size(ws).alias("n_words"))
        .withColumn("band", _word_band(F.col("n_words")))
        .withColumn("__h", h)
        .withColumn(
            "__bkt",
            F.col("band") * _N_BUCKETS
            + F.floor(F.col("__h") / F.lit(4294967296 // _N_BUCKETS)),
        )
    )
    # ~40 B/row projection pinned so the bucket-count branch and the
    # final ranked plan don't each re-run the corpus word-split (the
    # bm25/sequence_pack census pattern, r6)
    b = b.localCheckpoint(eager=True)
    # bounded in-plan offsets (≤ bands·_N_BUCKETS count rows — see
    # corpus_shuffle): the former collect job + driver fold becomes a
    # global window over the tiny count table, broadcast back
    cum = W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = (
        b.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            "__bkt", F.coalesce(F.sum("__c").over(cum), F.lit(0)).alias("__off")
        )
    )
    w = W.partitionBy("__bkt").orderBy("__h", id_col)
    return (
        b.join(F.broadcast(offs), "__bkt")
        .withColumn("curriculum_pos", F.col("__off") + F.row_number().over(w))
        .select(id_col, "n_words", "band", "curriculum_pos")
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curriculum_order(table(spark, sf_dir, "documents")).orderBy("doc_id")


def _curriculum_sql() -> str:
    e = CURRICULUM_BANDS
    return f"""
WITH base AS (
  SELECT doc_id,
         len({TXT.words_sql()}) AS n_words
  FROM documents
), banded AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words < {e[0]} THEN 0
              WHEN n_words < {e[1]} THEN 1
              WHEN n_words < {e[2]} THEN 2
              ELSE 3 END AS band,
         {common.knuth_sql()} AS h
  FROM base
)
SELECT doc_id, n_words, CAST(band AS INT) AS band,
       ROW_NUMBER() OVER (ORDER BY band, h, doc_id) AS curriculum_pos
FROM banded ORDER BY doc_id
"""


CURRICULUM_ORDER_SQL = _curriculum_sql()


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    val_permille: int = 50,
    test_permille: int = 50,
) -> DataFrame:
    """The FIX to what :func:`split_leakage_stats` audits: assign splits
    so near-duplicate documents can never straddle a split boundary. Each
    near-dup component (connected components over ``pairs``) is banded by
    its CLUSTER id's hash — every member inherits the representative's
    split — and singletons band by their own id, identical to
    :func:`train_split_assign`. Still growth-stable: a doc's split only
    changes if a new edge merges its component (exactly the case where
    moving it is the point).

    Scale shape: components via the size-guarded union-find / min-label
    propagation (dedup.near_dup_cluster_members), one broadcastable
    membership join (dup graphs ≪ corpus), then the same map-only band
    projection as the plain splitter.
    """
    from wurzel_spark.operators.dedup import near_dup_cluster_members

    members = near_dup_cluster_members(pairs).localCheckpoint(eager=True)
    mem = members.select(
        F.col("doc_id").alias(id_col), F.col("cluster_id").alias("__eff")
    )
    if common.fits(members.count(), common.BROADCAST_MAX_ROWS):
        mem = F.broadcast(mem)
    eff = df.join(mem, id_col, "left").withColumn(
        "__eff", F.coalesce(F.col("__eff"), F.col(id_col))
    )
    band = common.knuth_hash(F.col("__eff")) % F.lit(1000)
    train_hi = 1000 - val_permille - test_permille
    split = (
        F.when(band < train_hi, F.lit("train"))
        .when(band < train_hi + val_permille, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return eff.withColumn("split", split).drop("__eff")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment over the documents corpus with the
    df-capped exact-Jaccard dup graph (the oracle-able configuration the
    cluster family uses)."""
    from wurzel_spark.operators.dedup import CAPPED_MAX_DF, ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=CAPPED_MAX_DF, sort=False
    ).select("id_a", "id_b")
    return (
        leakage_safe_split(docs, pairs)
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _leakage_safe_split_sql() -> str:
    from wurzel_spark.operators.dedup import _CAPPED_PAIRS_CTE, _REACH_CTE

    return f"""
WITH RECURSIVE {_CAPPED_PAIRS_CTE},
{_REACH_CTE},
members AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src
),
eff AS (
  SELECT d.doc_id, COALESCE(m.cluster_id, d.doc_id) AS eff
  FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
)
SELECT doc_id,
       CASE WHEN {common.knuth_sql('eff')} % 1000 < 900
            THEN 'train'
            WHEN {common.knuth_sql('eff')} % 1000 < 950
            THEN 'val'
            ELSE 'test' END AS split
FROM eff
ORDER BY doc_id
"""


LEAKAGE_SAFE_SPLIT_SQL = _leakage_safe_split_sql()


# ------------------------------------------------ proportional interleave

STRIDE_SCALE = 1 << 40


def proportional_interleave(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stride-scheduled mixture training order: every source is spread
    EVENLY through the epoch in proportion to its size (the k-th of n_s
    docs from source s lands at fractional position (k−1)/n_s), so a
    data loader reading the output in (stride_key, source, id) order
    never sees a source burst — the steady mixture GPT-style training
    wants, without RNG.  stride_key = ((rank−1) · 2⁴⁰) div n_source is
    an exact integer (rank ≤ n_source ⇒ key < 2⁴⁰; cross-source
    comparisons are the 2⁻⁴⁰-quantized rationals, deterministic
    everywhere).

    Scale shape: one window shuffle on the source key for the per-source
    rank (deterministic hash order — the corpus_shuffle sampler), then a
    pure map; the output ORDER is the schedule, no global row-number.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(common.knuth_hash(F.col(id_col)).asc(), F.col(id_col))
    wc = W.partitionBy("source")
    return (
        df.select("source", id_col)
        .withColumn("rank_in_source", F.row_number().over(w))
        .withColumn("n_source", F.count(F.lit(1)).over(wc))
        .select(
            id_col,
            "source",
            F.col("rank_in_source").cast("long").alias("rank_in_source"),
            F.expr(f"((rank_in_source - 1) * {STRIDE_SCALE}L) div n_source")
            .alias("stride_key"),
        )
        .orderBy("stride_key", "source", id_col)
    )


def q_proportional_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    return proportional_interleave(table(spark, sf_dir, "documents"))


PROPORTIONAL_INTERLEAVE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {common.knuth_sql()}, doc_id
         ) AS rank_in_source,
         COUNT(*) OVER (PARTITION BY source) AS n_source
  FROM documents
)
SELECT doc_id, source,
       CAST(rank_in_source AS BIGINT) AS rank_in_source,
       ((rank_in_source - 1) * {STRIDE_SCALE}) // n_source AS stride_key
FROM ranked
ORDER BY stride_key, source, doc_id
"""


# --------------------------------------------- shuffle-quality audit (r8)


def shuffle_run_stats(shuffled: DataFrame, source_col: str = "source") -> DataFrame:
    """Runs-test audit of a training-epoch order: per source, how many
    maximal CONSECUTIVE-position blocks does the shuffled order contain?
    A correct global shuffle breaks each source into ≈n_docs runs (almost
    every doc is its own run at realistic mixture entropy); ingestion
    order or a broken per-partition "shuffle" shows up as runs ≪ docs —
    long same-source stretches that turn into correlated gradient batches
    downstream.

    Input: any frame carrying ``shuffle_pos`` (corpus_shuffle's output).
    A run starts where the PREVIOUS position holds a different source —
    computed by an equi-join on pos-1 (ints, co-partitioned by the hash
    exchange), NOT a global-order window, so no single-partition sort at
    100 TB. runs_permille = 1000·n_runs div n_docs (exact floor-div; 1000
    = perfectly interleaved at the doc grain).

    The narrow (pos, source) projection is checkpointed before the self-
    join: both join sides derive from it, but their plans differ (pos vs
    pos+1) so ReusedExchange never fires — without the cut the whole
    upstream shuffle subtree (scan + hash + offset join + ranking window)
    ran twice (review finding, r8; the graph_transitivity edge-list
    precedent). ~16 B/row, far cheaper than the subtree it pins.
    """
    cur = shuffled.select(
        F.col("shuffle_pos").alias("pos"), F.col(source_col).alias("source")
    ).localCheckpoint(eager=True)
    prev = cur.select((F.col("pos") + 1).alias("pos"), F.col("source").alias("prev_source"))
    marked = cur.join(prev, "pos", "left").select(
        "source",
        (
            F.col("prev_source").isNull()
            | (F.col("prev_source") != F.col("source"))
        )
        .cast("long")
        .alias("run_start"),
    )
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("run_start").alias("n_runs"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.expr("(1000 * n_runs) div n_docs").cast("long").alias("runs_permille"),
    ).orderBy("source")


def q_shuffle_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shuffle_run_stats(corpus_shuffle(table(spark, sf_dir, "documents")))


SHUFFLE_RUN_SQL = f"""
WITH h AS (
  SELECT doc_id, source,
         {common.knuth_sql()} AS h
  FROM documents
), ranked AS (
  SELECT source,
         CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
  FROM h
), marked AS (
  SELECT c.source,
         CASE WHEN p.source IS NULL OR p.source != c.source THEN 1 ELSE 0 END AS run_start
  FROM ranked c LEFT JOIN ranked p ON p.pos = c.pos - 1
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(run_start) AS BIGINT) AS n_runs,
       CAST((1000 * SUM(run_start)) // COUNT(*) AS BIGINT) AS runs_permille
FROM marked GROUP BY source ORDER BY source
"""
