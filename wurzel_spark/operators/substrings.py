"""Exact substring deduplication — the Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better", ExactSubstr) removal shape:
every token that is part of a substring of ≥ ``MIN_DUP_LEN`` tokens
occurring ≥2 times ANYWHERE in the corpus (other documents or elsewhere
in the same one) is removed. The complement of the n-gram-window
APPROXIMATIONS in operators/dedup.py (`duplicated_spans` flags span
starts; `strip_duplicated_spans` drops whole flagged windows): here
coverage is exact — maximal duplicated runs, token-precise boundaries —
which is what the paper's suffix array buys on one node.

Why no distributed suffix array: a substring of length M ≥ L occurring
twice means each of its M−L+1 L-token windows occurs ≥2 times; and a
token covered by a ≥2-occurrence L-window lies inside a duplicated
substring of length ≥ L. So "tokens covered by any duplicated L-window"
IS the ExactSubstr removal set — semantically identical to the
suffix-array formulation, but expressible as hash → count → interval
merge, which distributes as three narrow shuffles instead of a global
sort of every suffix. (The suffix array is a single-node efficiency
trick, not a semantic requirement.)

Scale shape: one map pass hashes every L-window (xxhash64 of the token
slice — 8 bytes/position, the duplicated_span_stats precedent; the
DuckDB oracle uses literal span strings, counts agree modulo ~2⁻⁶⁵
collisions); one groupBy(hash) with map-side partial aggregation finds
≥2-occurrence windows; one co-partitioned semi join marks duplicated
starts; interval merging is a lag-window over each doc's (small)
duplicated-start list, never over the corpus. Shuffles carry (hash,
doc_id, pos) longs only — text never moves. Reference parity: extends
wurzel's whole-document content-hash identity (datacontract.py:194-206)
to exact sub-document spans, the corpus-scale dedup its pipeline
delegates to the vector store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators.common import parallelize
from wurzel_spark.tables import table

#: minimum duplicated-substring length in tokens. Lee et al. use 50 on
#: web corpora; the synthetic corpus averages ~54 tokens/doc, so 20 keeps
#: the operator exercised at every test scale (a production run sets 50).
MIN_DUP_LEN = 20


def window_hashes(df: DataFrame, length: int = MIN_DUP_LEN,
                  id_col: str = "doc_id", text_col: str = "text"):
    """(wins, toks): every L-window's (doc_id, s, h) — s 1-based,
    h = xxhash64 of the token slice — plus (doc_id, ws, n_tokens) totals.
    The staging unit of the streaming twin; `_dup_window_starts` is this
    plus the hot-set reduction. Docs shorter than ``length`` contribute
    no windows (but stay in the totals)."""
    ws = TXT.words(F.col(text_col))
    toks = parallelize(df).select(
        F.col(id_col).alias("doc_id"), ws.alias("ws")
    ).select("doc_id", "ws", F.size("ws").alias("n_tokens"))
    wins = (
        toks.filter(F.col("n_tokens") - F.lit(length - 1) > 0)
        .select("doc_id", F.posexplode(TXT.windows("ws", length, F.xxhash64)).alias("s0", "h"))
        .select("doc_id", (F.col("s0") + 1).alias("s"), "h")
    )
    return wins, toks


def _dup_window_starts(df: DataFrame, length: int, id_col: str, text_col: str):
    """(doc_id, s) duplicated-window starts + per-doc totals."""
    wins, toks = window_hashes(df, length, id_col, text_col)
    return _hot_dup_starts(wins), toks


def _hot_dup_starts(wins: DataFrame) -> DataFrame:
    """(doc_id, s) starts whose L-window hash occurs ≥2 times ANYWHERE
    (cross-doc or within-doc): group on the hash with map-side combine,
    keep the hot set, co-partitioned semi join back. The hot set is
    unbounded at corpus scale (every shared boilerplate span), so no
    broadcast — both sides shuffle on h. Shared with the streaming twin
    (streaming/substrings.py), which stages the same ``wins`` rows."""
    hot = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    return wins.join(hot.select("h"), "h", "left_semi").select("doc_id", "s")


def _merged_runs(dup: DataFrame, length: int) -> DataFrame:
    """Merge duplicated window starts into maximal covered intervals:
    starts s, s' chain into one run iff s' − s ≤ length (their coverage
    [s, s+L−1], [s', s'+L−1] overlaps or touches); a merged run of
    starts [s_first..s_last] covers exactly s_last − s_first + length
    tokens. One lag window per doc over its duplicated starts only."""
    wd = Window.partitionBy("doc_id").orderBy("s")
    runs = (
        dup.withColumn("prev", F.lag("s").over(wd))
        .withColumn(
            "new_run",
            (F.col("prev").isNull() | (F.col("s") - F.col("prev") > length)).cast("long"),
        )
        .withColumn("run_id", F.sum("new_run").over(wd))
        .groupBy("doc_id", "run_id")
        .agg(
            F.min("s").alias("lo"),
            (F.max("s") + F.lit(length - 1)).alias("hi"),
        )
    )
    return runs


def exact_substring_removal(
    df: DataFrame,
    length: int = MIN_DUP_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc ExactSubstr removal statistics: (doc_id, n_tokens,
    n_dup_windows, n_runs, n_removed_tokens, removed_frac). Every doc
    appears (zero rows for clean docs); removed_frac is one IEEE division
    of exact int64s."""
    dup, toks = _dup_window_starts(df, length, id_col, text_col)
    return removal_stats_from_starts(dup, toks.select("doc_id", "n_tokens"), length)


def removal_stats_from_starts(
    dup: DataFrame, totals: DataFrame, length: int = MIN_DUP_LEN
) -> DataFrame:
    """The stats tail shared with the streaming twin: duplicated starts
    (doc_id, s) + per-doc totals (doc_id, n_tokens) → the
    exact_substring_removal output columns."""
    dup = dup.localCheckpoint(eager=True)  # feeds window count AND runs
    runs = _merged_runs(dup, length)
    per_runs = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(F.col("hi") - F.col("lo") + 1).alias("n_removed_tokens"),
    )
    per_wins = dup.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    return (
        totals.select("doc_id", "n_tokens")
        .join(per_wins, "doc_id", "left")
        .join(per_runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_runs", F.lit(0)).alias("n_runs"),
            F.coalesce("n_removed_tokens", F.lit(0)).alias("n_removed_tokens"),
            (
                F.coalesce("n_removed_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ).alias("removed_frac"),
        )
        .orderBy("doc_id")
    )


def strip_exact_substrings(
    df: DataFrame,
    length: int = MIN_DUP_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The mutation twin: (doc_id, cleaned_text) with every covered token
    removed; cleaned_text is the space-join of kept tokens (whitespace-
    normalized — the contract is token-level, not byte-level). Docs with
    nothing removed return their normalized token join unchanged.

    Scale shape: the merged-interval list per doc is collected as an
    ARRAY (bounded by the doc's own run count) and the token filter is
    row-local HOF algebra — the corpus text crosses exactly one join,
    keyed by doc_id."""
    dup, toks = _dup_window_starts(df, length, id_col, text_col)
    runs = _merged_runs(dup, length)
    run_arr = runs.groupBy("doc_id").agg(
        F.collect_list(F.struct("lo", "hi")).alias("runs")
    )
    joined = toks.join(run_arr, "doc_id", "left")
    kept = F.when(F.col("runs").isNull(), F.col("ws")).otherwise(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.col("n_tokens"), F.lit(1))),
                lambda i: F.when(
                    ~F.exists(
                        F.col("runs"), lambda r: (i >= r["lo"]) & (i <= r["hi"])
                    ),
                    F.element_at(F.col("ws"), i),
                ),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return joined.select(
        "doc_id", F.concat_ws(" ", kept).alias("cleaned_text")
    ).orderBy("doc_id")


# ------------------------------------------------------------ registered

def q_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_substring_removal(table(spark, sf_dir, "documents"))


def q_strip_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return strip_exact_substrings(table(spark, sf_dir, "documents"))


_L = MIN_DUP_LEN

# Oracle CTEs: literal span strings instead of hashes (the
# duplicated_span_stats precedent — counts agree modulo 64-bit
# collisions); DuckDB list slicing ws[i:i+L-1] is inclusive on both ends.
_DUP_STARTS_CTE = rf"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), w AS (
  SELECT doc_id, ws, len(ws) AS n_tokens FROM toks
), wins AS (
  SELECT doc_id, i AS s, array_to_string(ws[i:i+{_L - 1}], ' ') AS g
  FROM w, UNNEST(range(1, n_tokens - {_L} + 2)) AS t(i)
  WHERE n_tokens >= {_L}
), hot AS (
  SELECT g FROM wins GROUP BY g HAVING COUNT(*) >= 2
), dup AS (
  SELECT doc_id, s FROM wins SEMI JOIN hot USING (g)
), marked AS (
  SELECT doc_id, s,
         CASE WHEN s - LAG(s) OVER (PARTITION BY doc_id ORDER BY s) > {_L}
                OR LAG(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
              THEN 1 ELSE 0 END AS new_run
  FROM dup
), rid AS (
  SELECT doc_id, s,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), runs AS (
  SELECT doc_id, run_id, MIN(s) AS lo, MAX(s) + {_L - 1} AS hi
  FROM rid GROUP BY doc_id, run_id
)"""

EXACT_SUBSTRING_REMOVAL_SQL = rf"""
WITH {_DUP_STARTS_CTE},
per_runs AS (
  SELECT doc_id, COUNT(*) AS n_runs,
         CAST(SUM(hi - lo + 1) AS BIGINT) AS n_removed_tokens
  FROM runs GROUP BY doc_id
), per_wins AS (
  SELECT doc_id, COUNT(*) AS n_dup_windows FROM dup GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(per_wins.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(per_runs.n_runs, 0) AS BIGINT) AS n_runs,
       CAST(COALESCE(per_runs.n_removed_tokens, 0) AS BIGINT) AS n_removed_tokens,
       CAST(COALESCE(per_runs.n_removed_tokens, 0) AS DOUBLE)
         / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS removed_frac
FROM w
LEFT JOIN per_wins USING (doc_id)
LEFT JOIN per_runs USING (doc_id)
ORDER BY w.doc_id
"""

STRIP_EXACT_SUBSTRINGS_SQL = rf"""
WITH {_DUP_STARTS_CTE},
cov AS (
  SELECT doc_id, UNNEST(range(lo, hi + 1)) AS p FROM runs
), pos AS (
  SELECT doc_id, ws, UNNEST(range(1, n_tokens + 1)) AS p FROM w
), kept AS (
  SELECT pos.doc_id, pos.ws, pos.p
  FROM pos ANTI JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
)
SELECT w.doc_id,
       COALESCE(k.cleaned_text, '') AS cleaned_text
FROM w
LEFT JOIN (
  SELECT doc_id, array_to_string(list(ws[p] ORDER BY p), ' ') AS cleaned_text
  FROM kept GROUP BY doc_id
) k USING (doc_id)
ORDER BY w.doc_id
"""
