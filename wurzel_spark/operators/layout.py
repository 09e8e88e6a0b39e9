"""Data-layout operators — multi-dimensional clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the file:
parquet min/max footer stats prune whole files, but only if the writer
CLUSTERED the data so each file covers a narrow range of the filter
columns. Sorting clusters ONE column; Z-ordering (bit-interleaving two
key columns into one sort key — the Morton curve) bounds BOTH columns'
per-file ranges at once, which is why Delta/Iceberg ship `OPTIMIZE
ZORDER BY`. This module is that writer-side step as a composable
operator, plus an oracle-checked layout-quality statistic.

Scale shape: the z-value is a pure JVM codegen expression (32 shift/mask
terms, no UDF); the write is ``repartitionByRange(z)`` (one range
shuffle — the same shuffle ANY clustered write pays) + sort-within-
partitions. Layout quality is measured, not asserted: per-bucket
min/max spans of both dimensions, hash-green under the DuckDB oracle
because bit-interleaving is exact integer math in any engine.

The reference has no storage-layout story (its outputs are single-node
CSV/JSON snapshots — SURVEY §2.6); this is the piece its users would
need first on a real lakehouse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators import common
from wurzel_spark.tables import table

Z_BITS = 16  # per-dimension bits → 32-bit z-value, plenty for file-level stats


def interleave_bits(a: Column, b: Column, bits: int = Z_BITS) -> Column:
    """Morton z-value of two non-negative ints ALREADY in [0, 2^bits):
    bit j of ``a`` lands at z-bit 2j, bit j of ``b`` at 2j+1. A flat sum
    of shift/mask terms — whole-stage codegen keeps it a single
    projection; no UDF. Inputs outside the range alias on the low bits
    (x and x+2^bits interleave identically), which silently destroys the
    clustering — callers must range-normalize first (see
    :func:`normalize_to_bits`); the write/stats entry points here do."""
    z = F.lit(0).cast("long")
    for j in range(bits):
        z = (
            z
            + (F.shiftright(a.cast("long"), j) % 2) * F.lit(1 << (2 * j))
            + (F.shiftright(b.cast("long"), j) % 2) * F.lit(1 << (2 * j + 1))
        )
    return z


def _normalized_ab(df: DataFrame, col_a: str, col_b: str, bits: int) -> DataFrame:
    """Project ``df`` to (a, b, an, bn): raw long keys plus each key
    range-normalized into [0, 2^bits) by exact integer scaling
    ``x · 2^bits div (max+1)`` — order-preserving, engine-exact, and the
    reason arbitrary key domains (a 10^9 id space, a 7-bit enum) both
    fill the z-grid instead of aliasing on the low bits or collapsing
    into one cell. The maxes come from one broadcast aggregate — the
    same pre-pass any range partitioner pays."""
    raw = df.select(
        F.col(col_a).cast("long").alias("a"), F.col(col_b).cast("long").alias("b")
    )
    mx = raw.agg(F.max("a").alias("ma"), F.max("b").alias("mb"))
    return raw.crossJoin(F.broadcast(mx)).select(
        "a",
        "b",
        F.expr(f"(a * {1 << bits}) DIV (ma + 1)").alias("an"),
        F.expr(f"(b * {1 << bits}) DIV (mb + 1)").alias("bn"),
    )


def _interleave_sql(a: str, b: str, bits: int = Z_BITS) -> str:
    terms = []
    for j in range(bits):
        terms.append(f"(({a} // {1 << j}) % 2) * {1 << (2 * j)}")
        terms.append(f"(({b} // {1 << j}) % 2) * {1 << (2 * j + 1)}")
    return " + ".join(terms)


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = Z_BITS,
) -> None:
    """Write ``df`` as parquet clustered on the z-curve of two columns:
    range-normalize both keys into the bit grid (broadcast max pre-pass —
    without it, keys above 2^bits alias on their low bits and the
    clustering silently degrades to noise), range-partition on z (one
    shuffle, the same cost as any clustered write), sort within
    partitions so row groups inherit the locality, one output file per
    range → every file's footer min/max covers a narrow square of
    (col_a, col_b) and predicates on EITHER column prune files."""
    mx = df.agg(
        F.max(F.col(col_a).cast("long")).alias("__ma"),
        F.max(F.col(col_b).cast("long")).alias("__mb"),
    )
    an = F.expr(f"(CAST({col_a} AS BIGINT) * {1 << bits}) DIV (__ma + 1)")
    bn = F.expr(f"(CAST({col_b} AS BIGINT) * {1 << bits}) DIV (__mb + 1)")
    (
        df.crossJoin(F.broadcast(mx))
        .withColumn("__z", interleave_bits(an, bn, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__ma", "__mb")
        .write.mode("overwrite")
        .parquet(path)
    )


ZORDER_BUCKETS = 64  # the "files" the stats query scores


def zorder_layout_stats(
    df: DataFrame, col_a: str, col_b: str, bits: int = Z_BITS
) -> DataFrame:
    """Layout-quality statistic: divide the z-range into
    ``ZORDER_BUCKETS`` equal slices (each slice = one would-be output
    file of :func:`zorder_write`) and report per-bucket row counts and
    min/max spans of BOTH dimensions — the exact numbers a file-skipping
    planner reads from parquet footers. Narrow spans in both columns at
    once are the property plain sorting cannot deliver.

    Both keys range-normalize into the bit grid first (broadcast max
    pre-pass) so any key domain fills the curve — small enums don't
    collapse into one cell and large id spaces don't alias on their low
    bits. The slice width then adapts to the OCCUPIED z-range (bucket =
    z·B div (z_max+1)), so the statistic is meaningful whatever the key
    domain; a fixed top-bits shift would collapse small domains into one
    bucket.
    """
    nab = _normalized_ab(df, col_a, col_b, bits)
    zed = nab.select(
        interleave_bits(F.col("an"), F.col("bn"), bits).alias("z"), "a", "b"
    )
    zmax = zed.agg(F.max("z").alias("zmax"))
    return (
        zed.crossJoin(F.broadcast(zmax))
        .select(
            F.expr(f"(z * {ZORDER_BUCKETS}) DIV (zmax + 1)").alias("bucket"),
            "a",
            "b",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
        .select(
            "bucket",
            "n_rows",
            "min_a",
            "max_a",
            "min_b",
            "max_b",
            (F.col("max_a") - F.col("min_a")).alias("span_a"),
            (F.col("max_b") - F.col("min_b")).alias("span_b"),
        )
        .orderBy("bucket")
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-curve layout quality of lineitem clustered on (partkey, suppkey)
    — the canonical two-filter-column fact table."""
    return zorder_layout_stats(table(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey")


_Z_SQL = _interleave_sql("an", "bn")

ZORDER_LAYOUT_SQL = f"""
WITH raw AS (
  SELECT CAST(l_partkey AS BIGINT) AS a, CAST(l_suppkey AS BIGINT) AS b
  FROM lineitem
), keymax AS (
  SELECT MAX(a) AS ma, MAX(b) AS mb FROM raw
), norm AS (
  SELECT a, b,
         (a * {1 << Z_BITS}) // (ma + 1) AS an,
         (b * {1 << Z_BITS}) // (mb + 1) AS bn
  FROM raw, keymax
), zed AS (
  SELECT ({_Z_SQL}) AS z, a, b FROM norm
), mx AS (
  SELECT MAX(z) AS zmax FROM zed
), bucketed AS (
  SELECT (z * {ZORDER_BUCKETS}) // (zmax + 1) AS bucket, a, b FROM zed, mx
)
SELECT bucket, COUNT(*) AS n_rows,
       MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b,
       MAX(a) - MIN(a) AS span_a, MAX(b) - MIN(b) AS span_b
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


# ------------------------------------------------------------- compaction

TARGET_FILE_MB = 64


def compact_write(
    df: DataFrame,
    path: str,
    target_mb: int = TARGET_FILE_MB,
    sample_rows: int = 1_000,
) -> int:
    """Small-files compaction: write ``df`` as parquet with file count
    sized to a byte target instead of inheriting the input's partition
    count — the maintenance write every long-lived lakehouse table needs
    (a 100 TB table touched by thousands of micro-batches degrades into
    millions of KB-files; metadata and open() overhead then dominate
    scans).

    File count = ceil(rows × avg_row_bytes / target): one count
    aggregate plus a DISTRIBUTED row sample for the size estimate — a
    head-sample (``limit``) would read only the first partition's leading
    rows and mis-size any input where row size correlates with position
    (exactly what curriculum/z-ordered outputs look like). The in-memory
    string estimate is conservative vs parquet's encoded size, which
    biases toward slightly-smaller files — the safe direction.
    Round-robin repartition spreads rows evenly regardless of input
    skew. Returns the file count written.
    """
    n_rows = df.count()
    if n_rows == 0:
        df.write.mode("overwrite").parquet(path)
        return 0
    frac = min(1.0, (4.0 * sample_rows) / n_rows)
    sample = df.sample(fraction=frac, seed=7).limit(sample_rows).collect()
    if not sample:
        sample = df.limit(min(sample_rows, n_rows)).collect()
    avg_bytes = max(
        1,
        sum(
            sum(len(str(v)) if v is not None else 0 for v in row) for row in sample
        )
        // len(sample),
    )
    n_files = max(1, -(-(n_rows * avg_bytes) // (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files


# ---------------------------------------------------- training shards

N_SHARDS = 8


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = N_SHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize one training EPOCH as shard files: the deterministic
    corpus shuffle (ordering.corpus_shuffle — two-phase rank, no global
    window) striped round-robin over ``n_shards`` (shard sizes balanced
    within ±1 by construction), one parquet file per shard so a loader
    maps shard→worker with no further splitting. Rows keep
    ``shuffle_pos`` so each worker restores its stream order with a
    shard-local sort. Returns the written frame.

    Scale shape: the stripe assignment is row-local arithmetic on the
    rank; the write repartitions BY SHARD (n_shards tasks, each streaming
    one shard to one file). For multi-TB shards raise n_shards or drop
    the one-file-per-shard constraint (partitionBy alone) — the
    assignment column is the contract, the file fan-out is tunable.
    """
    from wurzel_spark.operators.ordering import corpus_shuffle

    shuffled = corpus_shuffle(df.select(id_col, text_col), id_col)
    sharded = shuffled.withColumn(
        "shard", ((F.col("shuffle_pos") - F.lit(1)) % F.lit(n_shards)).cast("long")
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return sharded


def training_shard_stats(
    df: DataFrame, n_shards: int = N_SHARDS, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shard balance readout (the oracle-checkable half of
    :func:`write_training_shards`): per shard, document count and token
    sum — balanced counts (±1) certify the striping, token sums certify
    which docs landed where."""
    from wurzel_spark.operators.ordering import corpus_shuffle

    shuffled = corpus_shuffle(df.select(id_col, text_col), id_col)
    return (
        shuffled.withColumn(
            "shard", ((F.col("shuffle_pos") - F.lit(1)) % F.lit(n_shards)).cast("long")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(TXT.word_count(F.col(text_col)).cast("long")).alias("n_tokens"),
        )
        .orderBy("shard")
    )


def q_training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_shard_stats(table(spark, sf_dir, "documents"))


TRAINING_SHARD_SQL = f"""
WITH h AS (
  SELECT doc_id, text,
         {common.knuth_sql()} AS h
  FROM documents
), ranked AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (ORDER BY h, doc_id) AS pos
  FROM h
)
SELECT (pos - 1) % 8 AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(len({TXT.words_sql()})) AS BIGINT) AS n_tokens
FROM ranked GROUP BY (pos - 1) % 8 ORDER BY shard
"""


# ------------------------------------------------------ table statistics

DOC_STAT_COLS = ("doc_id", "lang", "source", "n_chars")


def column_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style per-column statistics: rows, nulls, exact NDV,
    min/max (computed in the native type, then rendered as strings so
    every column fits one uniform schema). The stats table a cost-based
    optimizer — or a human sizing a 100 TB join — reads first; at scale
    swap ``countDistinct`` for ``approx_count_distinct`` (HLL) without
    changing the shape.

    Scale shape: ONE aggregate pass over the table computes every
    column's stats (Spark expands multi-distinct into one shuffle per
    distinct column, each carrying only that column), then a row-local
    unpivot to (column_name, ...) rows — the output is columns-sized,
    not data-sized.
    """
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__{c}__nulls"),
            F.countDistinct(c).alias(f"__{c}__ndv"),
            F.min(F.col(c)).cast("string").alias(f"__{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"__{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n_rows").alias("n_rows"),
                F.col(f"__{c}__nulls").alias("n_nulls"),
                F.col(f"__{c}__ndv").alias("n_distinct"),
                F.col(f"__{c}__min").alias("min_value"),
                F.col(f"__{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(per_col).alias("s"))
        .select("s.*")
        .orderBy("column_name")
    )


def q_table_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return column_stats(table(spark, sf_dir, "documents"), list(DOC_STAT_COLS))


TABLE_STATS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM documents"""
    for c in DOC_STAT_COLS
) + "\nORDER BY column_name"


# ------------------------------------------------ rendezvous sharding

RDV_N_SHARDS = 16
_RDV_MOD = 1000003


def _rdv_score(id_col: Column, shard: int) -> Column:
    """Deterministic 32-bit rendezvous weight for (id, shard), packed
    with the shard index into one BIGINT so GREATEST doubles as argmax:
    ``score*NS + shard`` is unique per shard (ties impossible), and
    ``% NS`` recovers the winning shard. Same portable multiplicative
    arithmetic as common.knuth_hash — reproducible in any engine, no
    xxhash (a production corpus swaps in a full-width splitmix64 once
    no oracle is in the loop; hash VALUES then aren't portable)."""
    # double-mod (the second is knuth_hash's own % 1000003 fold) keeps the
    # fold non-negative for SIGNED ids too: both engines' % is a remainder
    # (dividend's sign), so a negative doc_id would otherwise yield
    # negative scores and a shard outside 0..NS-1
    folded = (id_col * F.lit(131) + F.lit(shard * 7919)) % F.lit(_RDV_MOD)
    mixed = common.knuth_hash(folded + F.lit(_RDV_MOD))
    return mixed * F.lit(RDV_N_SHARDS) + F.lit(shard)


def rendezvous_owner(id_col: Column, shards: list[int] | None = None) -> Column:
    """Highest-random-weight (rendezvous / HRW, Thaler & Ravishankar
    1998) shard owner of an id: ``argmax_s hash(id, s)``. The property
    that makes HRW the output-sharding primitive at 100 TB: removing a
    shard moves ONLY the rows that lived on it (each surviving shard's
    weight is unchanged, so every argmax not previously on the removed
    shard is stable) — unlike mod-N, where a resize reshuffles ~all rows.

    Row-local whole-stage-codegen integer expressions (NS greatest
    terms), no UDF, no shuffle."""
    ss = list(range(RDV_N_SHARDS)) if shards is None else shards
    return (F.greatest(*[_rdv_score(id_col, s) for s in ss]) % RDV_N_SHARDS).cast(
        "long"
    )


def rendezvous_shard_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Shard-routing readout for an HRW-sharded write: per shard, the
    row count and byte mass it would receive (the balance you check
    before committing a layout), plus ``moved_out_on_drop0`` — how many
    of its rows would change owner if shard 0 were decommissioned. The
    HRW contract (asserted in tests): that column equals n_docs on
    shard 0 and is zero everywhere else — minimal movement on resize.

    Scale shape: owner columns are row-local codegen; the only shuffle
    is the NS-row grouped aggregate with map-side combine."""
    d = F.col(id_col)
    owned = df.select(
        rendezvous_owner(d).alias("shard"),
        rendezvous_owner(d, list(range(1, RDV_N_SHARDS))).alias("shard_drop0"),
        F.col("n_chars"),
    )
    return (
        owned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum((F.col("shard") != F.col("shard_drop0")).cast("long")).alias(
                "moved_out_on_drop0"
            ),
        )
        .orderBy("shard")
    )


def q_rendezvous_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rendezvous_shard_stats(table(spark, sf_dir, "documents"))


def _rdv_score_sql(shard: int) -> str:
    return (
        f"({common.knuth_sql(f'((doc_id * 131 + {shard * 7919}) % {_RDV_MOD} + {_RDV_MOD})')})"
        f" * {RDV_N_SHARDS} + {shard}"
    )


RENDEZVOUS_SQL = f"""
WITH owned AS (
  SELECT GREATEST({", ".join(_rdv_score_sql(s) for s in range(RDV_N_SHARDS))})
           % {RDV_N_SHARDS} AS shard,
         GREATEST({", ".join(_rdv_score_sql(s) for s in range(1, RDV_N_SHARDS))})
           % {RDV_N_SHARDS} AS shard_drop0,
         n_chars
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN shard != shard_drop0 THEN 1 ELSE 0 END) AS BIGINT)
         AS moved_out_on_drop0
FROM owned GROUP BY shard ORDER BY shard
"""


# ------------------------------------------- referential integrity audit


def referential_integrity_stats(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Ingest referential-integrity audit between the document corpus and
    its embedding table: duplicate / NULL keys on either side, docs with
    no vector, vectors with no doc, NULL vectors, and the dim range —
    the one-row gate a pipeline checks BEFORE joining 100 TB of text to
    its embeddings (a dup key silently fans out every downstream join;
    a ragged dim poisons every kernel batch).

    NULL keys are counted BEFORE the join and excluded from it — Spark's
    USING join never matches NULL keys while SQL IS NOT DISTINCT FROM
    pairs them, so letting NULLs into the join would diverge the
    missing-row counts between engines.

    Scale shape: two grouped aggregates (key-grain) feeding one
    full-outer join on the non-null key, then a single global aggregate;
    no text or vectors in any exchange (projected to ids/dims first)."""
    d_all = docs.groupBy(F.col("doc_id").alias("k")).agg(
        F.count(F.lit(1)).alias("d_cnt")
    )
    ev = emb.select(
        F.col("vec_id").alias("k"),
        F.when(F.col("embedding").isNull(), 1).otherwise(0).alias("is_null_vec"),
        # -1 convention for NULL vectors (Spark 4's size(NULL) is NULL,
        # not the legacy -1 — coalesce to match the oracle's COALESCE)
        F.coalesce(F.size(F.col("embedding")), F.lit(-1)).alias("dim"),
    )
    eg_all = ev.groupBy("k").agg(
        F.count(F.lit(1)).alias("e_cnt"),
        F.sum("is_null_vec").alias("e_null_vecs"),
        F.min("dim").alias("dim_min"),
        F.max("dim").alias("dim_max"),
    )
    z = F.lit(0)
    d_nulls = d_all.filter(F.col("k").isNull()).agg(
        F.coalesce(F.sum("d_cnt"), z).cast("long").alias("n_doc_null_keys")
    )
    e_nulls = eg_all.filter(F.col("k").isNull()).agg(
        F.coalesce(F.sum("e_cnt"), z).cast("long").alias("n_emb_null_keys")
    )
    j = d_all.filter(F.col("k").isNotNull()).join(
        eg_all.filter(F.col("k").isNotNull()), "k", "full_outer"
    )
    core = j.agg(
        F.coalesce(F.sum("d_cnt"), z).cast("long").alias("n_docs_keyed"),
        F.coalesce(F.sum("e_cnt"), z).cast("long").alias("n_emb_keyed"),
        F.coalesce(
            F.sum(F.when(F.col("d_cnt") > 1, F.col("d_cnt") - 1).otherwise(0)), z
        )
        .cast("long")
        .alias("n_doc_dup_rows"),
        F.coalesce(
            F.sum(F.when(F.col("e_cnt") > 1, F.col("e_cnt") - 1).otherwise(0)), z
        )
        .cast("long")
        .alias("n_emb_dup_rows"),
        F.coalesce(F.sum(F.when(F.col("e_cnt").isNull(), 1).otherwise(0)), z)
        .cast("long")
        .alias("n_docs_without_emb"),
        F.coalesce(F.sum(F.when(F.col("d_cnt").isNull(), 1).otherwise(0)), z)
        .cast("long")
        .alias("n_emb_without_doc"),
        F.coalesce(F.sum("e_null_vecs"), z).cast("long").alias("n_null_vectors"),
        F.coalesce(F.min("dim_min"), F.lit(-1)).cast("long").alias("dim_min"),
        F.coalesce(F.max("dim_max"), F.lit(-1)).cast("long").alias("dim_max"),
    )
    return (
        core.crossJoin(F.broadcast(d_nulls))
        .crossJoin(F.broadcast(e_nulls))
        .select(
            (F.col("n_docs_keyed") + F.col("n_doc_null_keys")).alias("n_docs"),
            (F.col("n_emb_keyed") + F.col("n_emb_null_keys")).alias("n_embeddings"),
            "n_doc_dup_rows",
            "n_emb_dup_rows",
            "n_doc_null_keys",
            "n_emb_null_keys",
            "n_docs_without_emb",
            "n_emb_without_doc",
            "n_null_vectors",
            "dim_min",
            "dim_max",
        )
    )


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return referential_integrity_stats(
        table(spark, sf_dir, "documents"), table(spark, sf_dir, "embeddings")
    )


REFERENTIAL_INTEGRITY_SQL = """
WITH d_all AS (
  SELECT doc_id AS k, COUNT(*) AS d_cnt FROM documents GROUP BY doc_id
), ev AS (
  SELECT vec_id AS k,
         CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null_vec,
         COALESCE(len(embedding), -1) AS dim
  FROM embeddings
), eg_all AS (
  SELECT k, COUNT(*) AS e_cnt, SUM(is_null_vec) AS e_null_vecs,
         MIN(dim) AS dim_min, MAX(dim) AS dim_max
  FROM ev GROUP BY k
), j AS (
  SELECT d.d_cnt, eg.e_cnt, eg.e_null_vecs, eg.dim_min, eg.dim_max
  FROM (SELECT * FROM d_all WHERE k IS NOT NULL) d
  FULL OUTER JOIN (SELECT * FROM eg_all WHERE k IS NOT NULL) eg
  ON d.k = eg.k
), core AS (
  SELECT CAST(COALESCE(SUM(d_cnt), 0) AS BIGINT) AS n_docs_keyed,
         CAST(COALESCE(SUM(e_cnt), 0) AS BIGINT) AS n_emb_keyed,
         CAST(COALESCE(SUM(CASE WHEN d_cnt > 1 THEN d_cnt - 1 ELSE 0 END), 0) AS BIGINT) AS n_doc_dup_rows,
         CAST(COALESCE(SUM(CASE WHEN e_cnt > 1 THEN e_cnt - 1 ELSE 0 END), 0) AS BIGINT) AS n_emb_dup_rows,
         CAST(COALESCE(SUM(CASE WHEN e_cnt IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_without_emb,
         CAST(COALESCE(SUM(CASE WHEN d_cnt IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_emb_without_doc,
         CAST(COALESCE(SUM(e_null_vecs), 0) AS BIGINT) AS n_null_vectors,
         CAST(COALESCE(MIN(dim_min), -1) AS BIGINT) AS dim_min,
         CAST(COALESCE(MAX(dim_max), -1) AS BIGINT) AS dim_max
  FROM j
), nulls AS (
  SELECT CAST(COALESCE((SELECT SUM(d_cnt) FROM d_all WHERE k IS NULL), 0) AS BIGINT) AS n_doc_null_keys,
         CAST(COALESCE((SELECT SUM(e_cnt) FROM eg_all WHERE k IS NULL), 0) AS BIGINT) AS n_emb_null_keys
)
SELECT core.n_docs_keyed + nulls.n_doc_null_keys AS n_docs,
       core.n_emb_keyed + nulls.n_emb_null_keys AS n_embeddings,
       core.n_doc_dup_rows, core.n_emb_dup_rows,
       nulls.n_doc_null_keys, nulls.n_emb_null_keys,
       core.n_docs_without_emb, core.n_emb_without_doc,
       core.n_null_vectors, core.dim_min, core.dim_max
FROM core CROSS JOIN nulls
"""


# ------------------------------------------------------- Hilbert layout

# 10 bits per dim (a 1024×1024 grid) — 16× finer than the 64-bucket
# readout needs. NOT Z_BITS: Catalyst collapses the unrolled walk into
# one projection by SUBSTITUTING each step's x/y into the next, so the
# expression tree grows superlinearly in steps — measured at sf0.1:
# 16 bits = 9.2 s, 10 bits = 2.0 s, z-order = 1.3 s. The curve itself is
# exact at any bits; only the normalization granularity changes.
HILBERT_BITS = 10


def _hilbert_step_exprs(s: int, n: int) -> tuple[str, str, str]:
    """One unrolled step of the canonical xy2d walk (the Wikipedia/Warren
    form) as engine-neutral SQL: the quadrant digit (3·rx)⊕ry spelled as
    a CASE (no XOR operator — DuckDB's ^ is exponentiation), and the
    ry=0 rotation/reflection (n−1−· uses the FULL grid n, not s). The
    same three strings feed the Spark select chain and the oracle CTE
    chain, so the curve can never drift between engines."""
    rx = f"(x & {s}) > 0"
    ry = f"(y & {s}) > 0"
    # CAST, not a bare literal: s² reaches 2^30 and Spark's ANSI int32
    # literal would overflow on the ×3 quadrant digit.
    d_incr = (
        f"CAST({s * s} AS BIGINT) * (CASE WHEN {rx} AND {ry} THEN 2 "
        f"WHEN {rx} THEN 3 WHEN {ry} THEN 1 ELSE 0 END)"
    )
    new_x = f"CASE WHEN {ry} THEN x WHEN {rx} THEN {n - 1} - y ELSE y END"
    new_y = f"CASE WHEN {ry} THEN y WHEN {rx} THEN {n - 1} - x ELSE x END"
    return d_incr, new_x, new_y


def hilbert_index(df_xy: DataFrame, bits: int = HILBERT_BITS) -> DataFrame:
    """Add the Hilbert-curve index ``h`` of (x, y) ∈ [0, 2^bits)² —
    ``bits`` unrolled projection steps (Catalyst collapses them into one
    codegen'd projection; no UDF, no loop at runtime). Unlike the Morton
    z-value, consecutive h are always grid-neighbors (the curve is
    continuous), which is why Hilbert clustering strictly dominates
    z-order on range-scan locality (Moon et al., IEEE TKDE 2001 — the
    analysis behind every lakehouse's OPTIMIZE BY HILBERT)."""
    n = 1 << bits
    out = df_xy.selectExpr("*", "CAST(0 AS BIGINT) AS d")
    keep = [c for c in df_xy.columns if c not in ("x", "y")]
    for i in range(bits - 1, -1, -1):
        d_incr, new_x, new_y = _hilbert_step_exprs(1 << i, n)
        out = out.selectExpr(
            *keep, f"d + {d_incr} AS d", f"{new_x} AS x", f"{new_y} AS y"
        )
    return out.selectExpr(*keep, "d AS h")


def hilbert_layout_stats(
    df: DataFrame, col_a: str, col_b: str, bits: int = HILBERT_BITS
) -> DataFrame:
    """Hilbert-curve layout quality, same readout and bucket grid as
    [[zorder_layout_stats]] so the two clustering strategies compare
    row-for-row: per-bucket counts and min/max spans of both dimensions
    — the parquet-footer numbers a file-skipping planner reads. The
    continuous curve's buckets have no Morton jump discontinuities, so
    max spans tighten; this query is the measured evidence for choosing
    OPTIMIZE BY HILBERT over z-order on a two-filter-column fact table.

    Scale shape: identical to the z twin — broadcast max pre-pass, one
    row-local (collapsed) projection chain, one grouped aggregate."""
    nab = _normalized_ab(df, col_a, col_b, bits)
    hed = hilbert_index(
        nab.select("a", "b", F.col("an").alias("x"), F.col("bn").alias("y")), bits
    )
    hmax = hed.agg(F.max("h").alias("hmax"))
    return (
        hed.crossJoin(F.broadcast(hmax))
        .select(
            F.expr(f"(h * {ZORDER_BUCKETS}) DIV (hmax + 1)").alias("bucket"), "a", "b"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
        .select(
            "bucket",
            "n_rows",
            "min_a",
            "max_a",
            "min_b",
            "max_b",
            (F.col("max_a") - F.col("min_a")).alias("span_a"),
            (F.col("max_b") - F.col("min_b")).alias("span_b"),
        )
        .orderBy("bucket")
    )


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert layout quality of lineitem clustered on (partkey, suppkey)
    — the same table/columns as the z-order twin for 1:1 comparison."""
    return hilbert_layout_stats(
        table(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey"
    )


def _hilbert_sql(bits: int = HILBERT_BITS) -> str:
    n = 1 << bits
    ctes = [
        f"""s{bits} AS (
  SELECT a, b, CAST(0 AS BIGINT) AS d, an AS x, bn AS y FROM norm
)"""
    ]
    prev = f"s{bits}"
    for i in range(bits - 1, -1, -1):
        d_incr, new_x, new_y = _hilbert_step_exprs(1 << i, n)
        ctes.append(
            f"""s{i} AS (
  SELECT a, b, d + {d_incr} AS d, {new_x} AS x, {new_y} AS y FROM {prev}
)"""
        )
        prev = f"s{i}"
    chain = ",\n".join(ctes)
    return f"""
WITH raw AS (
  SELECT CAST(l_partkey AS BIGINT) AS a, CAST(l_suppkey AS BIGINT) AS b
  FROM lineitem
), keymax AS (
  SELECT MAX(a) AS ma, MAX(b) AS mb FROM raw
), norm AS (
  SELECT a, b,
         (a * {1 << bits}) // (ma + 1) AS an,
         (b * {1 << bits}) // (mb + 1) AS bn
  FROM raw, keymax
),
{chain},
hed AS (
  SELECT a, b, d AS h FROM {prev}
), mx AS (
  SELECT MAX(h) AS hmax FROM hed
), bucketed AS (
  SELECT (h * {ZORDER_BUCKETS}) // (hmax + 1) AS bucket, a, b FROM hed, mx
)
SELECT bucket, COUNT(*) AS n_rows,
       MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b,
       MAX(a) - MIN(a) AS span_a, MAX(b) - MIN(b) AS span_b
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


HILBERT_LAYOUT_SQL = _hilbert_sql()


# --------------------------------------------- min-max file skipping

PRUNE_FILE_ROWS = 4096
PRUNE_WINDOW_LO_PCT = 45  # predicate window: the middle 10% of the span
PRUNE_WINDOW_HI_PCT = 55


def q_file_pruning_stats(
    spark: SparkSession, sf_dir: str, file_rows: int = PRUNE_FILE_ROWS
) -> DataFrame:
    """Zone-map (min/max) file-skipping effectiveness: how many files a
    date-window predicate must scan under the ARRIVAL layout (orderkey
    order — the ingest default) vs the DATE-SORTED layout — the
    measured before/after of running OPTIMIZE ... ORDER BY on the one
    filter column every pipeline has. [[q_zorder_layout]] and the
    Hilbert twin answer the TWO-column clustering question; this is the
    single-column decision, and `min_files` (= ceil(rows_hit / file
    rows)) is the floor any layout can reach, so `files_hit` vs
    `min_files` reads as "how far from perfect".

    Exactness: everything is integer — epoch-day order dates, file ids
    from ``(row_number − 1) div FILE_ROWS`` over a TOTAL order (arrival:
    o_orderkey, unique; sorted: (eday, o_orderkey)), the predicate
    window from integer percent clearing ``lo + div(span·pct, 100)``,
    and overlap tests on per-file min/max.

    Scale shape: two TWO-PHASE total ranks over the fact stream (the
    corpus_shuffle pattern — never a single-partition window): rows
    range-bucket on the leading sort key via a 1-row broadcast bounds
    panel, per-bucket counts fold to ≤1024 rows whose prefix sum is the
    bucket offset, and the global position is offset + within-bucket
    row_number — each layout then folds to file-grain rows before the
    2-row readout."""
    from pyspark.sql import Window as W

    _NB = 1024  # range buckets per layout (corpus_shuffle size class)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "div(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 86400000000)"
        ).alias("eday"),
    )
    panel = orders.agg(
        F.min("eday").alias("d_lo"),
        F.max("eday").alias("d_hi"),
        F.min("o_orderkey").alias("k_lo"),
        F.max("o_orderkey").alias("k_hi"),
    )
    bounded = orders.crossJoin(F.broadcast(panel)).select(
        "o_orderkey",
        "eday",
        F.expr(
            f"d_lo + div((d_hi - d_lo) * {PRUNE_WINDOW_LO_PCT}, 100)"
        ).alias("q_lo"),
        F.expr(
            f"d_lo + div((d_hi - d_lo) * {PRUNE_WINDOW_HI_PCT}, 100)"
        ).alias("q_hi"),
        "d_lo",
        "d_hi",
        "k_lo",
        "k_hi",
    )

    def files_for(order_cols, lead, lo, hi, name):
        # range bucket of the LEADING sort key: monotone in the key and a
        # pure function of it, so bucket order == global sort order and
        # tie groups never split across buckets
        b = bounded.withColumn(
            "__bkt",
            F.expr(f"div(({lead} - {lo}) * {_NB}, {hi} - {lo} + 1)"),
        )
        counts = b.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__c"))
        # prefix-sum offsets: a global window, but over the ≤{_NB}-row
        # bucket-count aggregate (bounded-grain window guard, round 10)
        woff = (
            W.partitionBy()
            .orderBy("__bkt")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "__bkt",
            F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        )
        wrk = W.partitionBy("__bkt").orderBy(*order_cols)
        return (
            b.join(F.broadcast(offsets), "__bkt")
            .withColumn("__rn", F.row_number().over(wrk))
            .select(
                "eday",
                "q_lo",
                "q_hi",
                F.expr(
                    f"div(__off + __rn - 1, {file_rows})"
                ).alias("fid"),
            )
            .groupBy("fid")
            .agg(
                F.min("eday").alias("f_lo"),
                F.max("eday").alias("f_hi"),
                F.max("q_lo").alias("q_lo"),
                F.max("q_hi").alias("q_hi"),
                F.sum(
                    F.when(
                        (F.col("eday") >= F.col("q_lo"))
                        & (F.col("eday") <= F.col("q_hi")),
                        1,
                    ).otherwise(0)
                ).cast("long").alias("rows_hit"),
            )
            .groupBy()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum(
                    F.when(
                        (F.col("f_lo") <= F.col("q_hi"))
                        & (F.col("f_hi") >= F.col("q_lo")),
                        1,
                    ).otherwise(0)
                ).cast("long").alias("files_hit"),
                F.sum("rows_hit").cast("long").alias("rows_hit"),
            )
            .select(F.lit(name).alias("layout"), "n_files", "files_hit", "rows_hit")
        )

    both = files_for(
        ["o_orderkey"], "o_orderkey", "k_lo", "k_hi", "arrival"
    ).unionByName(
        files_for(["eday", "o_orderkey"], "eday", "d_lo", "d_hi", "date_sorted")
    )
    return both.select(
        "layout",
        "n_files",
        "files_hit",
        F.expr("div(1000 * (n_files - files_hit), n_files)").alias(
            "pruned_permille"
        ),
        "rows_hit",
        F.expr(f"CAST(div(rows_hit + {file_rows - 1}, {file_rows})"
               f" AS BIGINT)").alias("min_files"),
    ).orderBy("layout")


def _file_pruning_sql(file_rows: int = PRUNE_FILE_ROWS) -> str:
    def branch(order_cols, name):
        return f"""
  SELECT '{name}' AS layout,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(CASE WHEN f_lo <= q_hi AND f_hi >= q_lo THEN 1 ELSE 0 END)
              AS BIGINT) AS files_hit,
         CAST(SUM(rows_hit) AS BIGINT) AS rows_hit
  FROM (
    SELECT fid, MIN(eday) AS f_lo, MAX(eday) AS f_hi,
           MAX(q_lo) AS q_lo, MAX(q_hi) AS q_hi,
           SUM(CASE WHEN eday >= q_lo AND eday <= q_hi THEN 1 ELSE 0 END)
             AS rows_hit
    FROM (
      SELECT eday, q_lo, q_hi,
             (ROW_NUMBER() OVER (ORDER BY {order_cols}) - 1)
               // {file_rows} AS fid
      FROM bounded
    ) GROUP BY fid
  )"""

    return f"""
WITH base AS (
  SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS eday
  FROM orders
), bounded AS (
  SELECT o_orderkey, eday,
         MIN(eday) OVER () + (((MAX(eday) OVER ()) - (MIN(eday) OVER ()))
           * {PRUNE_WINDOW_LO_PCT}) // 100 AS q_lo,
         MIN(eday) OVER () + (((MAX(eday) OVER ()) - (MIN(eday) OVER ()))
           * {PRUNE_WINDOW_HI_PCT}) // 100 AS q_hi
  FROM base
), layouts AS (
{branch("o_orderkey", "arrival")}
  UNION ALL
{branch("eday, o_orderkey", "date_sorted")}
)
SELECT layout, n_files, files_hit,
       CAST((1000 * (n_files - files_hit)) // n_files AS BIGINT)
         AS pruned_permille,
       rows_hit,
       CAST((rows_hit + {file_rows - 1}) // {file_rows} AS BIGINT)
         AS min_files
FROM layouts ORDER BY layout
"""


FILE_PRUNING_SQL = _file_pruning_sql()


# ------------------------------------------ column encoding audit

ENCODING_COLUMNS = ("l_shipdate", "l_quantity", "l_discount", "l_returnflag")
RLE_GOOD_PERMILLE = 100   # <10% runs -> RLE wins
DICT_NARROW_BITS = 8      # <=256 values -> 1-byte dictionary codes


def q_column_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding audit over the fact table's hot columns: run
    count under the ARRIVAL order (RLE's win), distinct cardinality and
    its dictionary code width, and the suggested encoding — the
    PLAIN/RLE/DICT decision parquet writers make per column, surfaced as
    a query so a layout change (say, sorting by shipdate — see
    [[q_file_pruning_stats]]) can be COSTED before rewriting 100 TB: a
    column whose runs collapse under the new sort is the one that pays
    for it.

    Exactness: runs count ``value ≠ lag(value)`` transitions over the
    TOTAL order (l_orderkey, l_linenumber, then the audited columns —
    the first two alone are not unique in the synthetic corpus, so the
    audited columns break ties; rows still tied are identical in every
    counted column and cannot affect any run count) with NULL-safe
    comparison; dict bits = ``length(bin(d − 1))`` for d ≥ 2 (exact
    ceil-log2 — both engines' bin() drops leading zeros); everything
    else is counts and floor-div permilles.

    Scale shape: the run count is SEGMENTED — rows range-bucket on
    l_orderkey (pure function of the leading sort key, so buckets are
    consecutive slices of the global order and an order's lines never
    split), every column's lag comes from the SAME per-bucket window
    (never a single-partition window over the fact table), per-bucket
    run subtotals fold to ≤1024 rows, and the bucket-seam overcount is
    corrected EXACTLY by comparing each bucket's first row against its
    predecessor's last row (min/max structs) on the bounded bucket
    table. Distinct counts ride a separate global aggregate (partial +
    final, no window), then a 4-row unpivot."""
    from pyspark.sql import Window as W

    _NB = 1024

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *ENCODING_COLUMNS
    )
    panel = li.agg(
        F.min("l_orderkey").alias("k_lo"), F.max("l_orderkey").alias("k_hi")
    )
    b = li.crossJoin(F.broadcast(panel)).withColumn(
        "__bkt", F.expr(f"div((l_orderkey - k_lo) * {_NB}, k_hi - k_lo + 1)")
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus —
    # appending the audited columns makes the order TOTAL up to rows that
    # are identical in every counted column, so the run count is
    # well-defined and engine-independent (same determinism class as the
    # session_duration tie-break; the oracle orders identically).
    # NULL placement is pinned EXPLICITLY on both sides: Spark ASC
    # defaults to NULLS FIRST but DuckDB ASC defaults to NULLS LAST, so
    # a NULL inside a tie group would otherwise shuffle cross-engine
    # adjacency (and hence run counts) despite the NULL-safe comparison.
    wb = W.partitionBy("__bkt").orderBy(
        "l_orderkey",
        "l_linenumber",
        *[F.col(c).asc_nulls_first() for c in ENCODING_COLUMNS],
    )
    lagged = b.select(
        "__bkt",
        "l_orderkey",
        "l_linenumber",
        *[
            (~F.col(c).eqNullSafe(F.lag(c).over(wb))).cast("long").alias(f"chg_{c}")
            for c in ENCODING_COLUMNS
        ],
        *ENCODING_COLUMNS,
    )
    edge = F.struct("l_orderkey", "l_linenumber", *ENCODING_COLUMNS)
    per_bkt = lagged.groupBy("__bkt").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.sum(f"chg_{c}").cast("long").alias(f"runs_{c}")
            for c in ENCODING_COLUMNS
        ],
        F.min(edge).alias("__first"),
        F.max(edge).alias("__last"),
    )
    # seam correction on the ≤_NB-row bucket table: a bucket's first row
    # was counted as `value IS NOT NULL` (lag NULL inside the bucket) but
    # the GLOBAL lag is the previous bucket's last row — subtract the
    # difference. Exact for NULLs too.
    wseq = W.partitionBy().orderBy("__bkt")
    seamed = per_bkt.withColumn("__prev_last", F.lag("__last").over(wseq))
    runs = seamed.groupBy().agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        *[
            (
                F.sum(f"runs_{c}")
                - F.sum(
                    F.when(
                        F.col("__prev_last").isNotNull(),
                        F.col(f"__first.{c}").isNotNull().cast("long")
                        - (
                            ~F.col(f"__first.{c}").eqNullSafe(
                                F.col(f"__prev_last.{c}")
                            )
                        ).cast("long"),
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias(f"runs_{c}")
            for c in ENCODING_COLUMNS
        ],
    )
    nd = li.groupBy().agg(
        *[F.countDistinct(c).cast("long").alias(f"nd_{c}") for c in ENCODING_COLUMNS]
    )
    agg = runs.crossJoin(F.broadcast(nd))
    stack = ", ".join(
        f"'{c}', runs_{c}, nd_{c}" for c in ENCODING_COLUMNS
    )
    rows = agg.select(
        "n_rows",
        F.expr(
            f"stack({len(ENCODING_COLUMNS)}, {stack}) AS (column_name, n_runs, n_distinct)"
        ),
    )
    return rows.select(
        "column_name",
        "n_rows",
        "n_distinct",
        "n_runs",
        F.expr("div(1000 * n_runs, n_rows)").alias("run_permille"),
        F.expr(
            "CAST(CASE WHEN n_distinct <= 1 THEN 0"
            " ELSE length(bin(n_distinct - 1)) END AS BIGINT)"
        ).alias("dict_bits"),
        F.expr(
            f"CASE WHEN div(1000 * n_runs, n_rows) < {RLE_GOOD_PERMILLE} THEN 'rle'"
            f" WHEN n_distinct > 1 AND length(bin(n_distinct - 1)) <= {DICT_NARROW_BITS}"
            f" THEN 'dict' ELSE 'plain' END"
        ).alias("suggested"),
    ).orderBy("column_name")


def _column_encoding_sql() -> str:
    chg = ",\n         ".join(
        f"CASE WHEN {c} IS DISTINCT FROM LAG({c}) OVER w THEN 1 ELSE 0 END AS chg_{c}"
        for c in ENCODING_COLUMNS
    )
    aggs = ",\n         ".join(
        f"CAST(SUM(chg_{c}) AS BIGINT) AS runs_{c},"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        for c in ENCODING_COLUMNS
    )
    branches = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, nd_{c} AS n_distinct,"
        f" runs_{c} AS n_runs FROM agg"
        for c in ENCODING_COLUMNS
    )
    return f"""
WITH lagged AS (
  SELECT {", ".join(ENCODING_COLUMNS)},
         {chg}
  FROM lineitem
  WINDOW w AS (ORDER BY l_orderkey, l_linenumber,
               {", ".join(f"{c} ASC NULLS FIRST" for c in ENCODING_COLUMNS)})
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         {aggs}
  FROM lagged
), rows_ AS (
  {branches}
)
SELECT column_name, n_rows, n_distinct, n_runs,
       CAST((1000 * n_runs) // n_rows AS BIGINT) AS run_permille,
       CAST(CASE WHEN n_distinct <= 1 THEN 0
            ELSE length(bin(n_distinct - 1)) END AS BIGINT) AS dict_bits,
       CASE WHEN (1000 * n_runs) // n_rows < {RLE_GOOD_PERMILLE} THEN 'rle'
            WHEN n_distinct > 1 AND length(bin(n_distinct - 1)) <= {DICT_NARROW_BITS}
            THEN 'dict' ELSE 'plain' END AS suggested
FROM rows_ ORDER BY column_name
"""


COLUMN_ENCODING_SQL = _column_encoding_sql()
