"""Text-analysis operators over a document corpus: per-doc metrics,
language ID, quality scoring, token counting, fingerprinting.

Reference parity: per-doc metrics (wurzel/datacontract/common.py:149-157),
content hashes (wurzel/steps/qdrant/step.py:259-283), whitespace tokenizer
(wurzel/steps/embedding/step.py:35,172-175). The lang-ID / quality scoring
operators are the training-data-pipeline extensions the reference implies
(stopword lists, data/german_stopwords_full.txt) but only does single-node.

Operators are pure `pyspark.sql.functions` column algebra (whole-stage
codegen, linear in the scan) with one measured exception: the repetition
top-ngram uses a row-local Arrow kernel because it beat the explode+
aggregate form 2.8× while keeping the work inside its partition.
"""

from __future__ import annotations

import collections

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators import common
from wurzel_spark.tables import table

# Whole-word markers per language for the n-gram-heuristic language ID.
# Deterministic, tiny, broadcast by constant-folding (they're literals).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
    "es": ("el", "los", "y", "es"),
    "zh": ("de", "shi", "he", "zai"),
}

# Stopwords for the quality-score stopword ratio (reference ships a German
# stopword list, wurzel/steps/embedding/step.py:71-76; we use a small
# multilingual set as literals).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "in", "is", "to", "der", "die", "le", "el")


def doc_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document metrics — the MarkdownDataContract metric projection
    (common.py:149-157) generalized: char/line/word counts + sha256.
    """
    c = F.col(text_col)
    return df.select(
        "doc_id",
        TXT.char_len(c).alias("char_len"),
        TXT.line_count(c).alias("n_lines"),
        TXT.word_count(c).alias("n_words"),
        TXT.sha256_hex(c).alias("text_sha256"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (word-piece proxy: ceil(char_len_of_word / 4) per word, a public
    rule-of-thumb for byte-pair encodings).
    """
    c = F.col(text_col)
    ws = TXT.words(c)
    subword = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )
    nw = F.size(ws)
    return df.select(
        "doc_id",
        nw.alias("n_tokens_ws"),
        subword.alias("n_tokens_bpe_est"),
        # NULL (not an ANSI DIVIDE_BY_ZERO crash) for zero-word docs;
        # oracle mirrors with NULLIF
        (F.length(c).cast("double") / F.when(nw > 0, nw)).alias("chars_per_token"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID by whole-word marker counts (n-gram heuristic).

    argmax over per-language marker hits with a deterministic tie-break
    (first language in LANG_MARKERS order wins — expressed as a CASE chain
    so the DuckDB oracle is literally the same expression).

    Expression shape (r8 — the 26.7× supralinear probe fix): the word
    split and the 5 per-language filters are LET-BOUND through
    single-element transform()s (the classifier.py idiom). HOF lambdas
    run interpreted with NO common-subexpression elimination, so the
    previous form — marker_words_count per score, each score referenced
    by greatest() and every CASE arm — re-ran the regex split ~35× per
    row. Bound: ONE split + 5 filters per row, then all argmax arithmetic
    over the bound 5-element score array. A Generate (explode of a
    1-element array) pins the result struct so project-collapse cannot
    duplicate it per output column.
    """
    c = F.col(text_col)
    langs = list(LANG_MARKERS)

    def _marker_pred(ms):
        arr = F.array(*[F.lit(m) for m in ms])
        # a plain 1-arg closure: a default-arg capture would change the
        # lambda's arity and PySpark would feed it two lambda variables
        return lambda w: F.array_contains(arr, w)

    def _result(ws):
        scores_arr = F.array(
            *[
                F.size(F.filter(ws, _marker_pred(markers))).cast("long")
                for markers in LANG_MARKERS.values()
            ]
        )

        def _argmax(sc):
            best = F.array_max(sc)
            pred = F.when(best == 0, F.lit("unknown"))
            for i, lang in enumerate(langs):
                pred = pred.when(F.element_at(sc, i + 1) == best, F.lit(lang))
            return F.struct(
                pred.alias("predicted_lang"), best.cast("long").alias("best_score")
            )

        return F.element_at(F.transform(F.array(scores_arr), _argmax), 1)

    res = F.element_at(F.transform(F.array(TXT.words(c)), _result), 1)
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.explode(F.array(res)).alias("__s"),
    ).select(
        "doc_id",
        "labeled_lang",
        F.col("__s.predicted_lang").alias("predicted_lang"),
        F.col("__s.best_score").alias("best_score"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality metrics: length, punctuation ratio, stopword ratio, digit
    ratio, mean word length — per-row ratios are single divisions of exact
    integers, so cross-engine bit-exact.
    """
    c = F.col(text_col)
    n_words = TXT.word_count(c)
    n_chars = TXT.char_len(c)
    n_punct = n_chars - TXT.char_len(F.regexp_replace(c, r"[.,;:!?]", ""))
    n_digit = n_chars - TXT.char_len(F.regexp_replace(c, r"[0-9]", ""))
    stop_hits = TXT.marker_words_count(c, STOPWORDS)
    nc = F.when(n_chars > 0, n_chars)  # NULL ratios for empty docs, not a crash
    nw = F.when(n_words > 0, n_words)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_computed"),
        n_words.alias("n_words"),
        (n_punct.cast("double") / nc).alias("punct_ratio"),
        (n_digit.cast("double") / nc).alias("digit_ratio"),
        (stop_hits.cast("double") / nw).alias("stopword_ratio"),
        (n_chars.cast("double") / nw).alias("chars_per_word"),
    )


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: exact sha256 + normalized fingerprint
    (casefold + whitespace collapse) — the cheap first pass of any dedup
    pipeline; at 100 TB this is a pure map stage feeding a hash-groupBy.
    """
    c = F.col(text_col)
    return df.select(
        "doc_id",
        TXT.sha256_hex(c).alias("exact_sha256"),
        TXT.fingerprint(c).alias("normalized_fingerprint"),
    )


# ---------------------------------------------------------------- queries

def q_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_metrics(table(spark, sf_dir, "documents")).orderBy("doc_id")


DOC_METRICS_SQL = """
SELECT doc_id,
       length(text) AS char_len,
       len(string_split(text, chr(10))) AS n_lines,
       len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w != '')) AS n_words,
       sha256(text) AS text_sha256
FROM documents ORDER BY doc_id
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(table(spark, sf_dir, "documents")).orderBy("doc_id")


TOKEN_STATS_SQL = """
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
  FROM documents
)
SELECT doc_id,
       len(ws) AS n_tokens_ws,
       CAST(list_sum(list_transform(ws, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens_bpe_est,
       CAST(length(text) AS DOUBLE) / NULLIF(len(ws), 0) AS chars_per_token
FROM w ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(table(spark, sf_dir, "documents")).orderBy("doc_id")


def _dd_markers(markers) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        f" w -> list_contains([{lst}], w))) AS BIGINT)"
    )


def _lang_id_sql(order_by: bool = True) -> str:
    score_cols = ",\n       ".join(
        _dd_markers(ws) + f" AS score_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    greatest = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE WHEN best = 0 THEN 'unknown' " + " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
), best AS (
  SELECT *, {greatest} AS best FROM scored
)
SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang,
       CAST(best AS BIGINT) AS best_score
FROM best {"ORDER BY doc_id" if order_by else ""}
"""


LANG_ID_SQL = _lang_id_sql()


def lang_share(df: DataFrame) -> DataFrame:
    """Per-language corpus composition: doc and char counts with their
    corpus shares — the mixture readout every multilingual curation run
    logs (and the denominator for language-rebalancing samplers).

    Scale shape: one grouped aggregate + a broadcast of the 1-row total;
    shares are single divisions of exact integers (cross-engine
    bit-exact below 2^53 chars per corpus — at 100 TB of text switch the
    char sums to decimal, the shape is unchanged)."""
    tot = df.agg(
        F.count(F.lit(1)).alias("__nd"), F.sum("n_chars").alias("__nc")
    )
    per = df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "sum_chars",
            (F.col("n_docs").cast("double") / F.col("__nd").cast("double")).alias(
                "doc_share"
            ),
            (
                F.col("sum_chars").cast("double") / F.col("__nc").cast("double")
            ).alias("char_share"),
        )
        .orderBy("lang")
    )


def duplication_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source duplication profile: docs, distinct normalized
    fingerprints (casefold + whitespace collapse — formatting-only edits
    count as duplicates), duplicate count and rate. The ex-ante readout
    that decides WHERE dedup budget goes: a source at 40% dup rate gets
    the MinHash pass, one at 0.1% doesn't.

    Scale shape: one map (fingerprint hash) + one grouped
    count/count-distinct — at 100 TB, distinct-count per group is the
    only shuffle and carries 32-byte hashes, not text. The rate is one
    division of exact integers."""
    fp = TXT.fingerprint(F.col(text_col))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(fp).alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dups"),
            (
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def q_duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplication_profile(table(spark, sf_dir, "documents"))


DUPLICATION_PROFILE_SQL = r"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_dups,
       CAST(COUNT(*) - COUNT(DISTINCT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM documents GROUP BY source ORDER BY source
"""


PMI_MIN_COUNT = 5
PMI_TOP_K = 100
_PMI_SCALE = float(1 << 20)  # same 2^20 fixed-point convention as _BM25_SCALE


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = PMI_MIN_COUNT,
    top_k: int = PMI_TOP_K,
) -> DataFrame:
    """Corpus collocations: bigrams ranked by pointwise mutual
    information, ``pmi = ln(c_xy · N / (c_x · c_y))`` over the bigram
    stream (c_x / c_y = first-/second-position marginals, N = total
    bigrams) with a ``min_count`` floor (PMI without a floor surfaces
    hapax noise). The standard phrase-mining signal (word2vec's phrase
    pass, NPMI collocation extraction) — tokenizer vocab candidates and
    boilerplate indicators both fall out of this table.

    Exactness: all counts are exact int64; the ONE float op is the final
    ln, floor-scaled to 2^20 fixed-point (the bm25 convention) so the
    driver hash compares integers. Deterministic total order:
    (-pmi_q20, w1, w2).

    Scale shape: the bigram STREAM is shuffled exactly once — the
    (w1, w2) count aggregate with map-side combine; both marginals, the
    total, and the min_count filter all derive from that VOCAB-sized
    count table (a window formulation would re-shuffle the full stream
    per marginal and a stop-word w1 partition would have no map-side
    combine — the bigram_lm_score docstring's documented skew hazard,
    avoided here by construction). Top-k is a global sort of the
    ≥min_count survivors (vocabulary-sized, not corpus-sized)."""
    toks = df.select(TXT.words(F.col(text_col)).alias("ws")).filter(F.size("ws") >= 2)
    bg = toks.select(F.explode(TXT.bigrams(F.col("ws"))).alias("b")).select(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    cxy = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    cxy = cxy.localCheckpoint(eager=True)  # feeds marginals, total, survivors
    cx = cxy.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    n = cxy.agg(F.sum("c_xy").alias("n_total"))
    marked = (
        cxy.filter(F.col("c_xy") >= min_count)
        .join(cx, "w1")
        .join(cy, "w2")
    )
    return (
        marked.crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.floor(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n_total").cast("double")
                    / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
                )
                * F.lit(_PMI_SCALE)
            )
            .cast("long")
            .alias("pmi_q20"),
        )
        .orderBy(F.col("pmi_q20").desc(), "w1", "w2")
        .limit(top_k)
    )


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_bigrams(table(spark, sf_dir, "documents"))


PMI_BIGRAMS_SQL = rf"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) >= 2
), bg AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM toks, UNNEST(range(1, len(ws))) AS t(i)
), c AS (
  SELECT w1, w2,
         COUNT(*) OVER (PARTITION BY w1, w2) AS c_xy,
         COUNT(*) OVER (PARTITION BY w1) AS c_x,
         COUNT(*) OVER (PARTITION BY w2) AS c_y,
         COUNT(*) OVER () AS n_total,
         ROW_NUMBER() OVER (PARTITION BY w1, w2 ORDER BY w1) AS rn
  FROM bg
)
SELECT w1, w2, c_xy, c_x, c_y,
       CAST(FLOOR(ln(CAST(c_xy AS DOUBLE) * CAST(n_total AS DOUBLE)
                     / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))
                  * {_PMI_SCALE!r}) AS BIGINT) AS pmi_q20
FROM c
WHERE rn = 1 AND c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi_q20 DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


def q_lang_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_share(table(spark, sf_dir, "documents"))


LANG_SHARE_SQL = """
WITH tot AS (
  SELECT COUNT(*) AS nd, CAST(SUM(n_chars) AS BIGINT) AS nc FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(*) AS DOUBLE) / CAST(nd AS DOUBLE) AS doc_share,
       CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / CAST(nc AS DOUBLE) AS char_share
FROM documents, tot
GROUP BY lang, nd, nc
ORDER BY lang
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(table(spark, sf_dir, "documents")).orderBy("doc_id")


def _quality_sql() -> str:
    stop_sum = _dd_markers(STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS n_words,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         {stop_sum} AS stop_hits
  FROM documents
)
SELECT doc_id,
       n_chars AS n_chars_computed,
       n_words,
       CAST(n_punct AS DOUBLE) / NULLIF(n_chars, 0) AS punct_ratio,
       CAST(n_digit AS DOUBLE) / NULLIF(n_chars, 0) AS digit_ratio,
       CAST(stop_hits AS DOUBLE) / NULLIF(n_words, 0) AS stopword_ratio,
       CAST(n_chars AS DOUBLE) / NULLIF(n_words, 0) AS chars_per_word
FROM base ORDER BY doc_id
"""


QUALITY_SQL = _quality_sql()


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(table(spark, sf_dir, "documents")).orderBy("doc_id")


FINGERPRINTS_SQL = """
SELECT doc_id,
       sha256(text) AS exact_sha256,
       sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS normalized_fingerprint
FROM documents ORDER BY doc_id
"""


def q_pipeline_filter_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composed pipeline under the exact-match gate: quality
    filter → exact dedup (first doc per content hash) → per-source corpus
    stats. This is the canonical training-data-curation shape (score, gate,
    dedup, report) as ONE Catalyst plan: the filter prunes before the dedup
    shuffle, the dedup key is a 64-char hash (never the text), and the final
    stats are exact integer sums.
    """
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    c = F.col("text")
    n_words = TXT.word_count(c)
    n_chars = TXT.char_len(c)
    n_digit = n_chars - TXT.char_len(F.regexp_replace(c, r"[0-9]", ""))
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        (n_digit.cast("double") / n_chars).alias("digit_ratio"),
    )
    gated = scored.filter((F.col("n_words") >= 20) & (F.col("digit_ratio") <= 0.5))
    w = W.partitionBy(TXT.sha256_hex(c)).orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        deduped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.sum("n_words")).alias("chars_per_word"),
        )
        .orderBy("source")
    )


PIPELINE_STATS_SQL = """
WITH scored AS (
  SELECT doc_id, source, text,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS n_words,
         length(text) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
           / length(text) AS digit_ratio
  FROM documents
), gated AS (
  SELECT * FROM scored WHERE n_words >= 20 AND digit_ratio <= 0.5
), deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / SUM(n_words) AS chars_per_word
FROM deduped
GROUP BY source
ORDER BY source
"""


def stratified_sample(
    df: DataFrame,
    group_col: str,
    fraction: float,
    order_col: str,
) -> DataFrame:
    """Deterministic stratified sampling: exactly ceil(fraction × n_g) rows
    per group, chosen by a stable order. Unlike df.sample(), re-runs (and
    re-tries of failed tasks) pick identical rows — the property a
    training-data pipeline needs for reproducible corpus cuts. One window
    shuffle on the group key.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(order_col)
    wc = W.partitionBy(group_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * F.lit(fraction)))
        .drop("__rn", "__n")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% per-source deterministic sample of the documents corpus."""
    docs = table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "source", 0.10, "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
) WHERE rn <= CEIL(n * 0.10)
ORDER BY doc_id
"""


# ---------------------------------------------------- repetition filters

def _ngrams_from(ws, n: int):
    return TXT.windows(
        ws, n, lambda g: F.concat_ws(" ", g), F.array().cast("array<string>")
    )


def word_ngrams(text_col, n: int):
    """Word n-grams as `"w1 w2 ... wn"` strings. The transform(array(...))
    wrapper let-binds the word array once — HOF lambdas re-evaluate captured
    subexpressions per element, and without the binding the whitespace split
    would run once per n-gram (O(words²) work).
    """
    ws = TXT.words(text_col)
    return F.element_at(F.transform(F.array(ws), lambda w: _ngrams_from(w, n)), 1)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1): the fraction of characters taken up by
    the single most-frequent word 2-gram, and the fraction of word 5-grams
    that are duplicates. High values flag boilerplate / machine-generated
    text for corpus filtering.

    Scale shape: BOTH signals are row-local, so the operator is one scan
    with ZERO shuffles: the 5-gram duplicate fraction via `array_distinct`
    on the bound n-gram array, and the top-2-gram via an Arrow-batched
    per-row Counter kernel. The kernel replaced an explode → two keyed
    hash aggregations that shuffled every 2-gram STRING twice — measured
    1.0 s → 0.37 s at sf0.1, bit-identical output; at 100 TB the win is
    structural (per-doc work never leaves its partition).

    Deterministic tie-break: among 2-grams with the maximal count the
    lexicographically smallest wins — same ordering the oracle's
    ``ORDER BY cnt DESC, ngram ASC`` yields.
    """
    out_t = T.StructType(
        [
            T.StructField("top_2gram", T.StringType()),
            T.StructField("top_2gram_count", T.LongType()),
        ]
    )

    @F.pandas_udf(out_t)
    def _top2(ng2: pd.Series) -> pd.DataFrame:
        tops, cnts = [], []
        for arr in ng2:
            if arr is None or len(arr) == 0:
                tops.append(None)
                cnts.append(0)
                continue
            c = collections.Counter(arr)
            m = max(c.values())
            tops.append(min(g for g, v in c.items() if v == m))
            cnts.append(m)
        return pd.DataFrame({"top_2gram": tops, "top_2gram_count": cnts})

    # spread the kernel across cores when the scan arrives under-partitioned
    # (small parquet = 1-2 splits); no-op at scale
    df = common.parallelize(df)
    c = F.col(text_col)
    ng5 = word_ngrams(c, 5)
    # The kernel's 2-gram argument must NOT use word_ngrams' let-binding
    # form: Spark 4.1's Python-UDF extraction leaves a UDF over
    # element_at(transform(array(...))) un-extracted and the plan dies at
    # runtime (same bug _word_hashes documents in dedup.py). zip_with over
    # two slices evaluates the split a constant number of times per ROW —
    # plain HOF shape, extraction-safe, no O(words²) re-evaluation.
    ws = TXT.words(c)
    ng2 = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        "doc_id",
        F.length(c).alias("n_chars"),
        ng2.alias("ng2"),
        F.when(
            F.size(ng5) > 0,
            (F.size(ng5) - F.size(F.array_distinct(ng5))).cast("double") / F.size(ng5),
        ).alias("dup_5gram_frac"),
    )
    # Docs with <2 words have no 2-gram: drop them (the oracle's
    # unnest(ng2) → GROUP BY path emits no row for them, and so did the
    # pre-kernel explode form — the kernel must not widen the row set).
    return base.filter(F.size("ng2") > 0).select(
        "doc_id", _top2("ng2").alias("t"), "n_chars", "dup_5gram_frac"
    ).select(
        "doc_id",
        F.col("t.top_2gram").alias("top_2gram"),
        F.col("t.top_2gram_count").alias("top_2gram_count"),
        (
            (F.col("t.top_2gram_count") * F.length("t.top_2gram")).cast("double")
            / F.col("n_chars")
        ).alias("top_2gram_char_frac"),
        "dup_5gram_frac",
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(table(spark, sf_dir, "documents")).orderBy("doc_id")


REPETITION_STATS_SQL = """
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
  FROM documents
), grams AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
              ELSE [] END AS ng2,
         CASE WHEN len(ws) >= 5
              THEN list_transform(range(1, len(ws) - 3), i -> array_to_string(ws[i:i+4], ' '))
              ELSE [] END AS ng5
  FROM base
), scal AS (
  SELECT doc_id, n_chars, ng2,
         CASE WHEN len(ng5) > 0
              THEN CAST(len(ng5) - len(list_distinct(ng5)) AS DOUBLE) / len(ng5)
              END AS dup_5gram_frac
  FROM grams
), ex AS (
  SELECT doc_id, n_chars, dup_5gram_frac, unnest(ng2) AS ngram FROM scal
), cnts AS (
  SELECT doc_id, ngram, COUNT(*) AS cnt,
         ANY_VALUE(n_chars) AS n_chars, ANY_VALUE(dup_5gram_frac) AS dup_5gram_frac
  FROM ex GROUP BY doc_id, ngram
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ngram ASC) AS rn
  FROM cnts
)
SELECT doc_id, ngram AS top_2gram, CAST(cnt AS BIGINT) AS top_2gram_count,
       CAST(cnt * length(ngram) AS DOUBLE) / n_chars AS top_2gram_char_frac,
       dup_5gram_frac
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


# ------------------------------------------------- distinctive terms (tf/df)

def distinctive_terms_per_source(
    df: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Top-k distinctive terms per source: rank by term frequency within the
    source (desc), then document-source frequency of the term across the
    corpus (asc — rarer is more distinctive), then the term itself. This is
    tf-idf with the idf kept as the exact integer source-count instead of a
    float log: `ln` differs between engines in the last ulp, and a
    monotone-in-each-argument integer rank is bit-stable everywhere while
    ordering near-ties identically.

    Scale shape: explode words → hash-aggregate on (source, term) → one
    window over term (document frequency) → one window over source (rank).
    The small global scalar (number of sources) rides in via a broadcast
    cross-join of a 1-row aggregate, never a driver collect.
    """
    from pyspark.sql import Window as W

    tf = (
        df.select("source", F.explode(TXT.words(F.col(text_col))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.withColumn(
        "df_sources", F.count(F.lit(1)).over(W.partitionBy("term"))
    )
    n_sources = df.agg(F.countDistinct("source").alias("n_sources"))
    ranked = dfreq.crossJoin(F.broadcast(n_sources)).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("source").orderBy(
                F.col("tf").desc(), F.col("df_sources").asc(), F.col("term").asc()
            )
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        "source", "term", "tf", "df_sources", "n_sources", "rank"
    )


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinctive_terms_per_source(table(spark, sf_dir, "documents")).orderBy(
        "source", "rank"
    )


DISTINCTIVE_TERMS_SQL = """
WITH tf AS (
  SELECT source, term, COUNT(*) AS tf FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS term
    FROM documents
  ) GROUP BY source, term
), dfreq AS (
  SELECT *, COUNT(*) OVER (PARTITION BY term) AS df_sources FROM tf
), ranked AS (
  SELECT *,
         (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY tf DESC, df_sources ASC, term ASC) AS rank
  FROM dfreq
)
SELECT source, term, CAST(tf AS BIGINT) AS tf,
       CAST(df_sources AS BIGINT) AS df_sources,
       CAST(n_sources AS BIGINT) AS n_sources, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY source, rank
"""


# ------------------------------------------------- deterministic mixture

# Per-source sampling rates in permille — the "domain mixing" table of a
# training-data pipeline (e.g. upweight curated sources, downweight crawl).
MIXTURE_PERMILLE: dict[str, int] = {
    **{f"src{i}": 1000 for i in range(5)},
    **{f"src{i}": 500 for i in range(5, 10)},
    **{f"src{i}": 250 for i in range(10, 15)},
    **{f"src{i}": 100 for i in range(15, 20)},
}


def mixture_sample(df: DataFrame, rates_permille: dict[str, int]) -> DataFrame:
    """Deterministic weighted mixture sampling: keep a row iff a Knuth
    multiplicative hash of its doc_id lands under the source's permille
    rate. Pure integer arithmetic that any engine reproduces bit-exactly
    (no RNG, no xxhash), stable under retries, and a zero-shuffle map-only
    filter — the property corpus mixing needs so every re-run of a 100 TB
    pipeline samples the identical subset.

    The doc_id is folded mod 1000003 (prime) first so the product stays
    far inside int64 even for petabyte-scale id spaces.
    """
    h = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % F.lit(4294967296) % F.lit(
        1000
    )
    rate = F.lit(None).cast("long")
    expr = None
    for src, permille in rates_permille.items():
        cond = F.col("source") == src
        expr = F.when(cond, permille) if expr is None else expr.when(cond, permille)
    rate = expr.otherwise(F.lit(0))
    return df.filter(h < rate)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        mixture_sample(table(spark, sf_dir, "documents"), MIXTURE_PERMILLE)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _mixture_sql() -> str:
    case = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIXTURE_PERMILLE.items()
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE ((doc_id % 1000003) * 2654435761) % 4294967296 % 1000
      < (CASE {case} ELSE 0 END)
ORDER BY doc_id
"""


MIXTURE_SAMPLE_SQL = _mixture_sql()


def q_corpus_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-metrics aggregation (SURVEY §2.7; reference
    datacontract.py:22-69 sums per-item metrics into corpus totals):
    corpus-level sums of the per-document metric columns, plus a
    consistency check that the stored n_chars column matches the text.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.size(F.split("text", "\n", -1))).alias("total_lines"),
        F.sum((F.col("n_chars") != F.length("text")).cast("long")).alias(
            "n_chars_mismatches"
        ),
    )


CORPUS_METRICS_SQL = """
SELECT COUNT(*) AS total_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, CHR(10), '')) + 1) AS BIGINT) AS total_lines,
       CAST(SUM(CASE WHEN n_chars != LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatches
FROM documents
"""


# ----------------------------------------------------- PII / contamination

# RE2-safe patterns (no lookaround, no backrefs) so the Java-regex (Spark)
# and RE2 (DuckDB oracle) engines find identical matches.
PII_PATTERNS: dict[str, str] = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_urls": r"https?://[^\s]+",
    "n_ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "n_phones": r"\+\d[\d\-\. ]{7,}\d",
    "n_numbers": r"\d+",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII / contamination counters: emails, URLs, IPv4s,
    phone-ish numbers, digit runs — the pre-training redaction/filter scan
    a 100 TB curation pipeline runs before anything else.

    Pure ``regexp_count`` column algebra: one scan, no UDFs, no shuffle —
    each pattern is a codegen'd regex pass over the text column. The
    reference's closest analog is its URL regex replacement
    (wurzel/steps/embedding/step.py:36,214-233); this generalizes it to
    the standard contamination screen.
    """
    c = F.col(text_col)
    counters = [
        F.regexp_count(c, F.lit(p)).cast("long").alias(name)
        for name, p in PII_PATTERNS.items()
    ]
    flag = (
        (F.regexp_count(c, F.lit(PII_PATTERNS["n_emails"])) > 0)
        | (F.regexp_count(c, F.lit(PII_PATTERNS["n_ipv4"])) > 0)
        | (F.regexp_count(c, F.lit(PII_PATTERNS["n_phones"])) > 0)
    )
    return df.select("doc_id", *counters, flag.alias("pii_flag")).orderBy("doc_id")


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scan(table(spark, sf_dir, "documents"))


def _pii_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS {name}"
        for name, p in PII_PATTERNS.items()
    )
    return f"""
SELECT doc_id,
       {cols},
       (len(regexp_extract_all(text, '{PII_PATTERNS["n_emails"]}')) > 0
        OR len(regexp_extract_all(text, '{PII_PATTERNS["n_ipv4"]}')) > 0
        OR len(regexp_extract_all(text, '{PII_PATTERNS["n_phones"]}')) > 0) AS pii_flag
FROM documents
ORDER BY doc_id
"""


PII_SCAN_SQL = _pii_sql()


# --------------------------------------------------- bigram LM familiarity

def bigram_lm_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-bigram familiarity score — a self-trained language-model
    fluency proxy: how corpus-typical each document's word bigrams are.

    Per doc: ``score = (Σ c(w1,w2) + n) / (Σ c(w1) + n·V)`` over the doc's
    ``n`` bigrams, where ``c`` are CORPUS bigram/prefix counts and ``V``
    the corpus prefix vocabulary — a pooled add-one-smoothed conditional
    probability (ratio of sums, not mean of ratios: the sums stay exact
    int64 until ONE final IEEE division, which is bit-reproducible across
    engines and row orders; per-bigram double averaging would be neither).
    Boilerplate scores high, gibberish scores low — the cheap LM-quality
    filter a curation pipeline applies corpus-wide.

    Scale shape: one bigram explode (zip of two array slices — no
    self-join), two count aggregations over (w1,w2)/(w1), a re-join of the
    doc bigrams against those counts, and a per-doc aggregate. All keys
    are the bigram/prefix strings themselves so the DuckDB oracle can
    reproduce counts exactly; a production variant would xxhash64 the
    words first so shuffles carry longs (collision-merge odds ~n²/2⁶⁵).
    """
    ws = TXT.words(F.col(text_col))
    toks = df.select(F.col("doc_id"), ws.alias("ws")).filter(F.size("ws") >= 2)
    bg = toks.select("doc_id", F.explode(TXT.bigrams(F.col("ws"))).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # Corpus counts as WINDOW functions over the bigram stream: the stream
    # is scanned once and shuffled twice (by (w1,w2), then by w1) instead
    # of three scans + two aggregate-join shuffles — measured 2.5× faster.
    # Tradeoff at extreme skew: a stop-word prefix ("the …") makes a giant
    # w1 window partition with no map-side combine; a corpus at that scale
    # should groupBy-aggregate cu (small vocabulary) and broadcast it back.
    from pyspark.sql import Window as W

    marked = bg.withColumn(
        "cbg", F.count(F.lit(1)).over(W.partitionBy("w1", "w2"))
    ).withColumn("cu", F.count(F.lit(1)).over(W.partitionBy("w1")))
    v = bg.select(F.countDistinct("w1").alias("v"))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cbg").alias("sum_cbg"),
            F.sum("cu").alias("sum_cu"),
        )
        .crossJoin(v)
        .select(
            "doc_id",
            "n_bigrams",
            "sum_cbg",
            "sum_cu",
            (
                (F.col("sum_cbg") + F.col("n_bigrams")).cast("double")
                / (F.col("sum_cu") + F.col("n_bigrams") * F.col("v")).cast("double")
            ).alias("familiarity"),
        )
        .orderBy("doc_id")
    )


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_score(table(spark, sf_dir, "documents"))


BIGRAM_LM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), eligible AS (
  SELECT doc_id, ws FROM toks WHERE len(ws) >= 2
), bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM eligible, UNNEST(range(1, len(ws))) AS t(i)
), cbg AS (
  SELECT w1, w2, COUNT(*) AS cbg FROM bg GROUP BY w1, w2
), cu AS (
  SELECT w1, COUNT(*) AS cu FROM bg GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT w1) AS v FROM bg
), per_doc AS (
  SELECT bg.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(cbg.cbg) AS BIGINT) AS sum_cbg,
         CAST(SUM(cu.cu) AS BIGINT) AS sum_cu
  FROM bg JOIN cbg ON bg.w1 = cbg.w1 AND bg.w2 = cbg.w2
          JOIN cu ON bg.w1 = cu.w1
  GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, sum_cbg, sum_cu,
       CAST(sum_cbg + n_bigrams AS DOUBLE)
         / CAST(sum_cu + n_bigrams * v.v AS DOUBLE) AS familiarity
FROM per_doc CROSS JOIN v
ORDER BY doc_id
"""


# ------------------------------------------------------ Gopher rule battery

def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher quality-filter rule battery (Rae et al. 2021, §A1.1) —
    the standard pre-training document filter, one boolean per rule plus
    the combined keep/drop verdict:

      - word count in [50, 100_000]
      - mean word length in [3, 10] characters
      - symbol-to-word ratio (# or ...) ≤ 0.1
      - ≤ 90% of lines start with a bullet ('-' or '*')
      - ≤ 30% of lines end with an ellipsis
      - ≥ 80% of words contain at least one alphabetic character
      - contains ≥ 2 distinct stop words

    Pure column algebra over one scan (ratios are single IEEE divisions of
    exact int64 counts — cross-engine bit-stable); the filter itself is a
    `WHERE gopher_keep` away, which Catalyst pushes into the parquet scan
    region of any downstream pipeline.
    """
    flags, n_words = _gopher_flag_exprs(F.col(text_col))
    keep = _gopher_keep(flags)
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("gopher_keep"),
    ).orderBy("doc_id")


def _gopher_keep(flags):
    """AND-fold of the Gopher flags — ONE definition of the keep verdict
    (the keep conjunction was written inline at three call sites, the
    exact drift pattern _gopher_flag_exprs exists to prevent; review
    finding, r8). The SQL twin is _GOPHER_KEEP_EXPR."""
    keep = None
    for f in flags.values():
        keep = f if keep is None else (keep & f)
    return keep


def _gopher_flag_exprs(c):
    """The Gopher rule expressions, one definition (shared by
    gopher_quality_flags and score_calibration_bins — the C4 drift lesson,
    ADVICE r7). Returns ({flag_name: Column}, n_words)."""
    ws = TXT.words(c)
    n_words = F.size(ws)
    n_chars_in_words = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_symbols = F.size(F.regexp_extract_all(c, F.lit(r"(#|\.\.\.)"), 0))
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: F.trim(x).rlike("^[-*]")))
    n_ellipsis = F.size(F.filter(lines, lambda x: F.trim(x).rlike("\\.\\.\\.$")))
    n_alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    n_stop = sum(
        F.array_contains(ws, w).cast("int") for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    # Denominator guards: zero-word / zero-line documents fail every
    # word/line-based rule outright — and ANSI mode makes an unguarded
    # division a runtime DIVIDE_BY_ZERO, not a quiet NULL.
    has_words = n_words > 0
    has_lines = n_lines > 0
    mean_wl = n_chars_in_words.cast("double") / F.when(has_words, n_words).cast("double")
    flags = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
        "ok_mean_word_len": has_words & (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "ok_symbol_ratio": has_words
        & (n_symbols.cast("double") / F.when(has_words, n_words).cast("double") <= 0.1),
        "ok_bullet_lines": has_lines
        & (n_bullet.cast("double") / F.when(has_lines, n_lines).cast("double") <= 0.9),
        "ok_ellipsis_lines": has_lines
        & (n_ellipsis.cast("double") / F.when(has_lines, n_lines).cast("double") <= 0.3),
        "ok_alpha_words": has_words
        & (n_alpha_words.cast("double") / F.when(has_words, n_words).cast("double") >= 0.8),
        "ok_stop_words": n_stop >= 2,
    }
    return {k: F.coalesce(v, F.lit(False)) for k, v in flags.items()}, n_words


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_quality_flags(table(spark, sf_dir, "documents"))


# The Gopher rule CTE chain (base → m → f), one definition — shared by
# GOPHER_SQL and CALIBRATION_SQL below (the C4 drift lesson, ADVICE r7).
_GOPHER_CTE = r"""base AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws,
         list_filter(regexp_split_to_array(text, '\n'), x -> trim(x) != '') AS lines,
         len(regexp_extract_all(text, '(#|\.\.\.)')) AS n_symbols
  FROM documents
), m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         list_sum(list_transform(ws, w -> length(w))) AS n_chars_in_words,
         n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*]'))) AS n_bullet,
         len(list_filter(lines, x -> regexp_matches(trim(x), '\.\.\.$'))) AS n_ellipsis,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
         (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END) AS n_stop
  FROM base
), f AS (
  SELECT doc_id, n_words,
         (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
         COALESCE(n_words > 0
          AND CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
          AND CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0, FALSE) AS ok_mean_word_len,
         COALESCE(n_words > 0
          AND CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1, FALSE) AS ok_symbol_ratio,
         COALESCE(n_lines > 0
          AND CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.9, FALSE) AS ok_bullet_lines,
         COALESCE(n_lines > 0
          AND CAST(n_ellipsis AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.3, FALSE) AS ok_ellipsis_lines,
         COALESCE(n_words > 0
          AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8, FALSE) AS ok_alpha_words,
         (n_stop >= 2) AS ok_stop_words
  FROM m
)"""

_GOPHER_KEEP_EXPR = (
    "(ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND ok_bullet_lines"
    " AND ok_ellipsis_lines AND ok_alpha_words AND ok_stop_words)"
)

GOPHER_SQL = f"""
WITH {_GOPHER_CTE}
SELECT doc_id, n_words, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
       ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stop_words,
       {_GOPHER_KEEP_EXPR} AS gopher_keep
FROM f
ORDER BY doc_id
"""



# --------------------------------------------------- C4 cleaning battery

# Shared C4 predicate builders (ADVICE r7): c4_line_filter_stats and
# c4_clean_docs previously duplicated these expressions literally — a
# future edit could drift the stats away from the mutation. One
# definition each, used by both.


def _c4_nonempty_lines(c):
    return F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")


def _c4_kept_lines(c):
    """A line survives iff it ends in terminal punctuation, carries ≥5
    whitespace words, and does not mention "javascript"."""
    return F.filter(
        _c4_nonempty_lines(c),
        lambda x: F.trim(x).rlike('[.!?"]$')
        & (TXT.word_count(x) >= 5)
        & ~F.lower(x).contains("javascript"),
    )


def _c4_page_drop(c):
    """Page-level outright drop: "lorem ipsum" or a curly brace."""
    return F.lower(c).contains("lorem ipsum") | c.contains("{") | c.contains("}")


def _c4_n_sentences(kept_text):
    return F.size(F.regexp_extract_all(kept_text, F.lit(r"[.!?]+"), 0))


def c4_line_filter_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The C4 line-level cleaning battery (Raffel et al. 2020, §2.2) —
    the other canonical pre-training filter next to Gopher's doc-level
    rules. A line survives iff it ends in terminal punctuation
    (``. ! ? "``), carries ≥5 whitespace words, and does not mention
    "javascript" (case-insensitive). Doc-level: pages containing
    "lorem ipsum" or a curly brace are dropped outright, and a page must
    retain ≥3 sentences (terminal-punctuation runs in its KEPT lines).

    Output per doc: (doc_id, n_lines, n_kept_lines, n_kept_words,
    n_sentences, has_lorem_ipsum, has_curly, c4_keep).

    Pure column algebra over one scan — same shape as
    ``gopher_quality_flags``: the line predicates are higher-order array
    filters on the split text, every ratio-free rule is an exact integer
    comparison, so Spark and the DuckDB oracle agree bit-for-bit, and
    `WHERE c4_keep` pushes into the parquet scan region of a downstream
    pipeline. Reference parity: wurzel cleans markdown line-wise in
    utils/to_markdown/utils.py (clean_html drops nav/script nodes); this
    is the corpus-scale analog for plain text.

    On the synthetic driver corpus (single-line, punctuation-free text)
    every rule correctly reports no-keep — the same shape as the
    registered pii_scan / license_scan batteries, whose discrimination is
    likewise pinned by fixture tests (tests/test_c4.py exercises every
    rule both ways).
    """
    c = F.col(text_col)
    lines = _c4_nonempty_lines(c)
    kept = _c4_kept_lines(c)
    kept_text = F.concat_ws("\n", kept)
    n_sentences = _c4_n_sentences(kept_text)
    has_lorem = F.lower(c).contains("lorem ipsum")
    has_curly = c.contains("{") | c.contains("}")
    n_kept_words = F.aggregate(
        kept,
        F.lit(0).cast("long"),
        lambda acc, x: acc + TXT.word_count(x),
    )
    keep = (~_c4_page_drop(c)) & (n_sentences >= 3)
    return df.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_kept_words.alias("n_kept_words"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_curly.alias("has_curly"),
        keep.alias("c4_keep"),
    ).orderBy("doc_id")


def c4_clean_docs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The mutation twin: (doc_id, cleaned_text) for surviving pages only
    — kept lines re-joined with newlines, docs failing the page-level
    rules dropped. Built from the SAME ``_c4_*`` predicate helpers as
    ``c4_line_filter_stats`` (one definition each), so the stats and the
    mutation cannot drift (ADVICE r7)."""
    c = F.col(text_col)
    stats_and_text = df.select(
        "doc_id",
        F.concat_ws("\n", _c4_kept_lines(c)).alias("cleaned_text"),
        _c4_page_drop(c).alias("page_drop"),
    )
    return (
        stats_and_text.filter(
            ~F.col("page_drop")
            & (_c4_n_sentences(F.col("cleaned_text")) >= 3)
        )
        .select("doc_id", "cleaned_text")
        .orderBy("doc_id")
    )


def q_c4_line_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_line_filter_stats(table(spark, sf_dir, "documents"))


def q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_clean_docs(table(spark, sf_dir, "documents"))


_C4_KEPT_CTE = r"""
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\n'), x -> trim(x) != '') AS lines,
         (contains(lower(text), 'lorem ipsum')) AS has_lorem_ipsum,
         (contains(text, '{') OR contains(text, '}')) AS has_curly
  FROM documents
), k AS (
  SELECT doc_id, lines, has_lorem_ipsum, has_curly,
         list_filter(lines, x ->
           regexp_matches(trim(x), '[.!?"]$')
           AND len(list_filter(regexp_split_to_array(trim(x), '\s+'), w -> w != '')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM base
), m AS (
  SELECT doc_id, lines, kept, has_lorem_ipsum, has_curly,
         -- array_to_string([]) is NULL in DuckDB; Spark concat_ws gives ''
         len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]+')) AS n_sentences,
         CAST(COALESCE(list_sum(list_transform(kept, x ->
           len(list_filter(regexp_split_to_array(trim(x), '\s+'), w -> w != '')))), 0) AS BIGINT) AS n_kept_words
  FROM k
)"""

C4_LINE_FILTER_SQL = rf"""
WITH {_C4_KEPT_CTE}
SELECT doc_id,
       len(lines) AS n_lines,
       len(kept) AS n_kept_lines,
       n_kept_words,
       n_sentences,
       has_lorem_ipsum,
       has_curly,
       (NOT has_lorem_ipsum AND NOT has_curly AND n_sentences >= 3) AS c4_keep
FROM m
ORDER BY doc_id
"""

C4_CLEAN_DOCS_SQL = rf"""
WITH {_C4_KEPT_CTE}
SELECT doc_id, array_to_string(kept, chr(10)) AS cleaned_text
FROM m
WHERE NOT has_lorem_ipsum AND NOT has_curly AND n_sentences >= 3
ORDER BY doc_id
"""


# ------------------------------------------------- end-to-end curation run

def curation_stage_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document funnel-stage flags (doc_id, source, text, g_ok, p_ok):
    the Gopher quality gate and the PII screen as pure column predicates.
    Shared by the batch funnel and the streaming twin so the two can never
    drift (each micro-batch evaluates the SAME expressions)."""
    c = F.col(text_col)
    ws = TXT.words(c)
    n_words = F.size(ws)
    chars_in_words = F.aggregate(ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    has_words = n_words > 0
    mean_wl = chars_in_words.cast("double") / F.when(has_words, n_words).cast("double")
    gopher_ok = F.coalesce(
        has_words
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (
            F.size(F.regexp_extract_all(c, F.lit(r"(#|\.\.\.)"), 0)).cast("double")
            / F.when(has_words, n_words).cast("double")
            <= 0.1
        ),
        F.lit(False),
    )
    pii_ok = (
        (F.regexp_count(c, F.lit(PII_PATTERNS["n_emails"])) == 0)
        & (F.regexp_count(c, F.lit(PII_PATTERNS["n_ipv4"])) == 0)
        & (F.regexp_count(c, F.lit(PII_PATTERNS["n_phones"])) == 0)
    )
    return df.select(
        "doc_id", "source", c.alias("text"), gopher_ok.alias("g_ok"), pii_ok.alias("p_ok")
    )


def curation_pipeline_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The full curation funnel as ONE declarative plan: Gopher quality
    rules → PII screen → exact dedup (first doc per content hash) → per-
    source survival counts and surviving token volume.

    Every stage is a column predicate or a hash-groupBy, so Catalyst fuses
    the whole funnel into a handful of stages; at 100 TB the only
    shuffles are the dedup groupBy and the final per-source aggregate.
    Counts are exact integers — cross-engine hash-stable.
    """
    from wurzel_spark.operators.dedup import exact_dedup

    staged = curation_stage_flags(df, text_col)
    survivors = exact_dedup(
        staged.filter(F.col("g_ok") & F.col("p_ok")), ["text"], "doc_id"
    ).select("doc_id", "source", F.size(TXT.words(F.col("text"))).alias("n_tokens"))
    per_source = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("g_ok").cast("long")).alias("n_gopher_ok"),
        F.sum((F.col("g_ok") & F.col("p_ok")).cast("long")).alias("n_pii_ok"),
    )
    out_counts = survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_final"),
        F.sum("n_tokens").alias("surviving_tokens"),
    )
    return (
        per_source.join(out_counts, "source", "left")
        .select(
            "source",
            "n_input",
            "n_gopher_ok",
            "n_pii_ok",
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.coalesce("surviving_tokens", F.lit(0)).alias("surviving_tokens"),
        )
        .orderBy("source")
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_pipeline_stats(table(spark, sf_dir, "documents"))


CURATION_PIPELINE_SQL = rf"""
WITH staged AS (
  SELECT doc_id, source, text,
         COALESCE(len(ws) > 0
          AND CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) >= 3.0
          AND CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) <= 10.0
          AND CAST(len(regexp_extract_all(text, '(#|\.\.\.)')) AS DOUBLE) / len(ws) <= 0.1, FALSE) AS g_ok,
         (len(regexp_extract_all(text, '{PII_PATTERNS["n_emails"]}')) = 0
          AND len(regexp_extract_all(text, '{PII_PATTERNS["n_ipv4"]}')) = 0
          AND len(regexp_extract_all(text, '{PII_PATTERNS["n_phones"]}')) = 0) AS p_ok
  FROM (
    SELECT doc_id, source, text,
           list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
    FROM documents
  )
), surv AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) AS n_tokens
  FROM (
    SELECT doc_id, source, text,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM staged WHERE g_ok AND p_ok
  ) WHERE rn = 1
), per_source AS (
  SELECT source, COUNT(*) AS n_input,
         CAST(SUM(CASE WHEN g_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_ok,
         CAST(SUM(CASE WHEN g_ok AND p_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_ok
  FROM staged GROUP BY source
), outc AS (
  SELECT source, COUNT(*) AS n_final, CAST(SUM(n_tokens) AS BIGINT) AS surviving_tokens
  FROM surv GROUP BY source
)
SELECT p.source, p.n_input, p.n_gopher_ok, p.n_pii_ok,
       COALESCE(o.n_final, 0) AS n_final,
       COALESCE(o.surviving_tokens, 0) AS surviving_tokens
FROM per_source p LEFT JOIN outc o ON p.source = o.source
ORDER BY p.source
"""


# ------------------------------------------------------------------- BM25

_BM25_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("spark", "join"),
    1: ("hash", "table", "scan"),
    2: ("dup", "stream", "window"),
}
_BM25_K1 = 1.2
_BM25_B = 0.75
# Quantization scale for the per-(query,doc,term) score before the final
# sum: ×2^20 keeps float-sum order out of the result (integer sum is
# order-independent) while leaving ~1e-9 relative headroom against the
# one engine-libm op in the formula (ln); a finer scale (the 2^40 the
# k-means sums use) would put ln()'s 1-ulp cross-engine wiggle inside the
# floor's flip window.
_BM25_SCALE = float(1 << 20)


def bm25_topk(
    df: DataFrame,
    queries: dict[int, tuple[str, ...]] | None = None,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """BM25 (Robertson/Okapi) top-k retrieval over whitespace tokens —
    the ranked-retrieval readout a curation pipeline uses for targeted
    corpus probes ("show me the docs this query would surface").

    Scale shape: the exploded term stream is filtered to QUERY terms
    before any shuffle (an in-plan literal `isin` — Catalyst folds it
    into the explode's filter, so the full vocabulary never moves), then
    one groupBy(doc, term) with map-side combine; document frequencies
    aggregate from that already-tiny table; the corpus-level (N, avgdl)
    scalars ride a broadcast 1-row crossJoin, never a driver collect.
    Final ranking is a per-query top-k window over ≤ |hits| rows.

    Bit-exact across engines: every arithmetic op is IEEE
    correctly-rounded (+,*,/ on doubles) except ln(); per-term scores are
    floored at 2^20 into BIGINT, so the integer SUM per (query, doc) is
    order-independent and the score column hashes exactly.
    """
    qs = queries or _BM25_QUERIES
    terms = sorted({t for ts in qs.values() for t in ts})
    qt = df.sparkSession.createDataFrame(
        [(qid, t) for qid, ts in sorted(qs.items()) for t in ts],
        "query_id int, term string",
    )
    ws = TXT.words(F.col(text_col))
    d2 = df.select("doc_id", ws.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("dl")
    )
    stats = d2.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        d2.select("doc_id", "dl", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf feeds BOTH the broadcast df-count and the scoring join — each
    # consumer would re-run the corpus word-explode (the dominant cost)
    # when the alias-differing subtrees miss ReusedExchange. Post-filter
    # tf is query-terms-only — tiny — so pin it (the retrieval_self_eval
    # census, applied here; r6).
    tf = tf.localCheckpoint(eager=True)
    dfr = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("dfc"))
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("dfc") + F.lit(0.5))
                    / (F.col("dfc") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1.0 - _BM25_B)
                        + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
                * F.lit(_BM25_SCALE)
            )
            .cast("long")
            .alias("sq"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(F.sum("sq").alias("score_q20"))
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("score_q20"), "doc_id")
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_q20")
        .orderBy("query_id", "rank")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(table(spark, sf_dir, "documents"))


def _bm25_sql() -> str:
    values = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(_BM25_QUERIES.items()) for t in ts
    )
    terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in _BM25_QUERIES.values() for t in ts})
    )
    return rf"""
WITH d2 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), d3 AS (
  SELECT doc_id, ws, len(ws) AS dl FROM d2
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM d3
), qt(query_id, term) AS (
  VALUES {values}
), tf AS (
  SELECT doc_id, dl, t.term, COUNT(*) AS tf
  FROM d3, UNNEST(ws) AS t(term)
  WHERE t.term IN ({terms})
  GROUP BY doc_id, dl, t.term
), dfr AS (
  SELECT term, COUNT(DISTINCT doc_id) AS dfc FROM tf GROUP BY term
), scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(FLOOR(
           ln((s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
           * (tf.tf * {_BM25_K1 + 1.0!r})
           / (tf.tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * tf.dl / s.avgdl))
           * {_BM25_SCALE!r}
         ) AS BIGINT) AS sq
  FROM tf
  JOIN qt q ON q.term = tf.term
  JOIN dfr d ON d.term = tf.term
  CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, CAST(SUM(sq) AS BIGINT) AS score_q20
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, score_q20 FROM (
  SELECT query_id, doc_id, score_q20,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_q20 DESC, doc_id) AS rank
  FROM agg
) WHERE rank <= 10
ORDER BY query_id, rank
"""


BM25_TOPK_SQL = _bm25_sql()


# ------------------------------------------- quality-banded sampling

# Corpus-profile band edges for the bigram-LM familiarity score (measured
# quartiles at the test sf; production edges come from a profiling job the
# same way). Permille keep-rates encode the standard curation posture:
# drop gibberish (lowest band), keep typical text, DOWNWEIGHT the most
# corpus-typical band (high familiarity ⇒ boilerplate).
QUALITY_BAND_EDGES = (0.0338, 0.0345, 0.0351)
QUALITY_BAND_PERMILLE = (100, 600, 900, 300)


def quality_mixture_sample(
    df: DataFrame,
    edges: tuple[float, ...] = QUALITY_BAND_EDGES,
    permille: tuple[int, ...] = QUALITY_BAND_PERMILLE,
) -> DataFrame:
    """Perplexity-binned sampling (the CCNet recipe: partition the corpus
    by LM score, sample each band at its own rate): familiarity bands by
    FIXED config edges (map-only; a global ntile would serialize the
    corpus through one window partition), then the same Knuth-hash
    permille filter as :func:`mixture_sample` — deterministic, re-run
    stable, zero extra shuffles beyond the score itself.
    """
    scored = bigram_lm_score(df)
    # band via cascading CASE (first matching edge wins)
    expr = None
    for i, e in enumerate(edges):
        cond = F.col("familiarity") < F.lit(e)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    band = expr.otherwise(len(edges))
    rate = None
    for i, p in enumerate(permille):
        rate = F.when(band == i, p) if rate is None else rate.when(band == i, p)
    rate = rate.otherwise(F.lit(0))
    h = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % F.lit(
        4294967296
    ) % F.lit(1000)
    return (
        scored.select("doc_id", "familiarity", band.alias("band"), rate.alias("__r"), h.alias("__h"))
        .filter(F.col("__h") < F.col("__r"))
        .select("doc_id", "band", "familiarity")
        .orderBy("doc_id")
    )


def q_quality_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_mixture_sample(table(spark, sf_dir, "documents"))


def _quality_mixture_sql() -> str:
    e = QUALITY_BAND_EDGES
    p = QUALITY_BAND_PERMILLE
    band_case = (
        f"CASE WHEN familiarity < {e[0]!r} THEN 0 "
        + " ".join(
            f"WHEN familiarity < {e[i]!r} THEN {i}" for i in range(1, len(e))
        )
        + f" ELSE {len(e)} END"
    )
    rate_case = (
        "CASE "
        + " ".join(f"WHEN band = {i} THEN {r}" for i, r in enumerate(p))
        + " ELSE 0 END"
    )
    return f"""
WITH lm AS ({BIGRAM_LM_SQL.replace("ORDER BY doc_id", "")}),
banded AS (
  SELECT doc_id, familiarity, {band_case} AS band FROM lm
)
SELECT doc_id, band, familiarity FROM banded
WHERE ((doc_id % 1000003) * 2654435761) % 4294967296 % 1000 < ({rate_case})
ORDER BY doc_id
"""


QUALITY_MIXTURE_SQL = _quality_mixture_sql()


# ------------------------------------------- DSIR importance resampling

DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
_DSIR_BUCKETS = 8192


def dsir_importance_scores(
    df: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    text_col: str = "text",
    n_buckets: int = _DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) over
    hashed unigram buckets: score each document by how much more likely
    its tokens are under the TARGET distribution (docs from
    ``target_sources``) than under the raw corpus.

    Estimator: pooled add-one count ratio

        score = (Σ c_tgt(b) + n) / (T_tgt + n)
                ─────────────────────────────
                (Σ c_raw(b) + n) / (T_raw + n)

    summed over the doc's token buckets ``b``. DSIR's paper form sums
    per-token log-ratios; a float log-sum is evaluation-order-dependent,
    so this keeps the sums exact int64 and pays exactly three IEEE
    divisions — bit-reproducible across engines and row orders (the same
    pooling trade the bigram-LM score makes, textstats.py:741).

    Scale shape — the hashed-feature trick IS the scale path: the count
    table is ≤ ``n_buckets`` rows regardless of corpus size, so it
    broadcast-joins back to the token stream (no shuffle on the join);
    one groupBy(bucket) with map-side combine + one groupBy(doc) and the
    scoring is otherwise map-only. Bucket hash = md5-prefix (cross-engine,
    dedup.md5_prefix_hash) — swap for xxhash64 off-oracle.
    """
    from wurzel_spark.operators.dedup import md5_prefix_hash

    toks = df.select(
        "doc_id",
        "source",
        F.explode(TXT.words(F.col(text_col))).alias("w"),
    ).select(
        "doc_id",
        "source",
        (md5_prefix_hash(F.col("w")) % F.lit(n_buckets)).alias("b"),
    )
    # Two consumers (bucket counts, then per-doc scoring) are inherent to
    # DSIR's two-pass estimator. Pinning the hashed stream makes
    # tokenize+hash — the expensive map — run once, but the pinned rows
    # are three longs PER TOKEN (larger than the corpus fact grain), so
    # the pin is GATED on the metadata-only input-size estimate: small
    # inputs checkpoint, large or unknown inputs fall through to the
    # two-scan plan (the `toks` lineage is simply evaluated twice — both
    # paths are bit-equal, equivalence-tested in tests/test_round11.py).
    # Pinning costs ~24 B/token (three longs) ≈ 4× the input text bytes.
    toks = common.pin_if_small(toks, df)
    is_tgt = F.col("source").isin(*target_sources)
    counts = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    per_doc = (
        toks.join(F.broadcast(counts), "b")
        .groupBy("doc_id", "source")  # doc_id unique: source rides along
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("c_raw").alias("sum_raw"),
            F.sum("c_tgt").alias("sum_tgt"),
        )
    )
    score = (
        (F.col("sum_tgt") + F.col("n_words")).cast("double")
        / (F.col("t_tgt") + F.col("n_words")).cast("double")
    ) / (
        (F.col("sum_raw") + F.col("n_words")).cast("double")
        / (F.col("t_raw") + F.col("n_words")).cast("double")
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id", "source", "n_words", "sum_tgt", "sum_raw",
        "t_tgt", "t_raw", score.alias("importance")
    )


def dsir_importance_sample(
    df: DataFrame,
    threshold: float = 1.0,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
) -> DataFrame:
    """Keep documents scoring more target-like than corpus-average
    (``importance >= threshold``) — the deterministic selection twin of
    DSIR's importance resampling (sampling ∝ weight needs RNG; a fixed
    threshold keeps the row set reproducible under retries)."""
    return (
        dsir_importance_scores(df, target_sources)
        .filter(F.col("importance") >= F.lit(threshold))
        .select("doc_id", "n_words", "sum_tgt", "sum_raw", "importance")
        .orderBy("doc_id")
    )


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_importance_sample(table(spark, sf_dir, "documents"))


IMPORTANCE_SAMPLE_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x != '')) AS w
  FROM documents
), tb AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) % 8192 AS b
  FROM toks
), counts AS (
  SELECT b, COUNT(*) AS c_raw,
         CAST(SUM(CASE WHEN source IN ('src0', 'src1', 'src2')
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
  FROM tb GROUP BY b
), totals AS (
  SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
         CAST(SUM(c_tgt) AS BIGINT) AS t_tgt
  FROM counts
), per_doc AS (
  SELECT tb.doc_id,
         COUNT(*) AS n_words,
         CAST(SUM(c.c_tgt) AS BIGINT) AS sum_tgt,
         CAST(SUM(c.c_raw) AS BIGINT) AS sum_raw
  FROM tb JOIN counts c ON tb.b = c.b
  GROUP BY tb.doc_id
)
SELECT doc_id, n_words, sum_tgt, sum_raw,
       (CAST(sum_tgt + n_words AS DOUBLE) / CAST(t_tgt + n_words AS DOUBLE))
       / (CAST(sum_raw + n_words AS DOUBLE) / CAST(t_raw + n_words AS DOUBLE))
         AS importance
FROM per_doc CROSS JOIN totals
WHERE (CAST(sum_tgt + n_words AS DOUBLE) / CAST(t_tgt + n_words AS DOUBLE))
      / (CAST(sum_raw + n_words AS DOUBLE) / CAST(t_raw + n_words AS DOUBLE))
      >= 1.0
ORDER BY doc_id
"""


# ------------------------------------------------ BPE corpus token stats

def bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counts under the vendored byte-level BPE
    (functions/bpe.py — the tiktoken merge algorithm the reference's
    tokenizer adapter wraps, wurzel/utils/tokenizers.py:52-127), plus the
    BPE-to-whitespace fan-out ratio — the number a training pipeline needs
    for cost forecasts and packing (sequence_pack's whitespace counts
    underestimate subword streams).

    Arrow-batched pandas UDF: the rank table builds once per executor
    (module-level cache in functions/tokens.py) and each batch amortizes
    the Python dispatch; the merge loop itself is inherently sequential
    per text, which is exactly the work an any-engine BPE pays. Registered
    rows-only — no SQL engine expresses the merge-rank recursion.
    """

    @F.pandas_udf("long")
    def _count(s: pd.Series) -> pd.Series:
        from wurzel_spark.functions import tokens as TK

        count = TK.token_counter("bpe")
        return s.fillna("").map(count).astype("int64")

    ws = TXT.word_count(F.col(text_col))
    return (
        df.select(
            "doc_id",
            _count(F.col(text_col)).alias("n_bpe_tokens"),
            ws.cast("long").alias("n_words"),
        )
        .withColumn(
            "tokens_per_word",
            F.when(
                F.col("n_words") > 0,
                F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double"),
            ),
        )
        .orderBy("doc_id")
    )


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_token_stats(table(spark, sf_dir, "documents"))


# ------------------------------------------------- corpus length profile

def corpus_length_quantiles(
    df: DataFrame, group_col: str = "source", val_col: str = "n_chars"
) -> DataFrame:
    """Per-source length distribution profile: exact rank-based p50/p90/p99
    (value at 1-based rank ``ceil(p·n)`` ascending — a DEFINITION every
    engine reproduces bit-exactly, unlike interpolating percentiles whose
    formulas differ across engines) plus min/max/count.

    Scale shape: one window shuffle on the group key (the per-group sort
    is the cost of exactness). At 100 TB swap in approx_percentile /
    t-digest for the profile dashboard and keep this form for audits —
    same output schema, so consumers don't change.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(val_col, "doc_id")
    wc = W.partitionBy(group_col)
    ranked = df.select(group_col, val_col, "doc_id").withColumn(
        "__rn", F.row_number().over(w)
    ).withColumn("__n", F.count(F.lit(1)).over(wc))
    picks = [
        F.max(
            F.when(
                F.col("__rn") == F.ceil(F.col("__n") * F.lit(p)).cast("int"),
                F.col(val_col),
            )
        ).alias(name)
        for p, name in ((0.5, "p50_chars"), (0.9, "p90_chars"), (0.99, "p99_chars"))
    ]
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(val_col).alias("min_chars"),
            *picks,
            F.max(val_col).alias("max_chars"),
        )
        .orderBy(group_col)
    )


def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_length_quantiles(table(spark, sf_dir, "documents"))


CORPUS_QUANTILES_SQL = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS INT) THEN n_chars END) AS p50_chars,
       MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS INT) THEN n_chars END) AS p90_chars,
       MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS INT) THEN n_chars END) AS p99_chars,
       MAX(n_chars) AS max_chars
FROM ranked
GROUP BY source
ORDER BY source
"""


# ------------------------------------------------------- retrieval eval

RETRIEVAL_EVAL_EVERY = 100
RETRIEVAL_EVAL_TERMS = 6


def retrieval_self_eval(
    df: DataFrame,
    every: int = RETRIEVAL_EVAL_EVERY,
    n_terms: int = RETRIEVAL_EVAL_TERMS,
    text_col: str = "text",
) -> DataFrame:
    """Retrieval quality evaluation without labeled data: every
    ``every``-th document becomes a query (its first ``n_terms`` distinct
    tokens) whose GOLD answer is the document itself, and the harness
    reports where BM25 ranks the gold doc — rank, hit@1/hit@10, and
    reciprocal rank. This self-retrieval readout is the standard smoke
    metric for an index/scorer change (a correct ranker puts a doc at or
    near rank 1 for its own prefix; regressions show up as rank mass
    sliding down).

    Scale shape: identical to bm25_topk up to the scoring aggregate
    (term stream pre-filtered to query terms via a broadcast semi-join
    before any shuffle), then the rank is computed WITHOUT a per-query
    sort: one broadcast join of the per-query gold score + a count
    aggregate of strictly-better candidates — rank = n_better + 1, so no
    window over candidate lists. Scores are the same 2^20-scaled exact
    integers as bm25_topk; the only float in the output is rr = 1/rank
    (one IEEE division).
    """
    ws = TXT.words(F.col(text_col))
    # d3 feeds three map-only consumers (query terms, corpus stats, the
    # term stream); tokenization is the CPU-dominant expression, so
    # spread one-file inputs across cores FIRST (r7 — the single-
    # partition tokenize was most of the 2.2 s driver time). Three
    # distributed map passes beat materializing the tokenized corpus:
    # at 100 TB a checkpoint of ws arrays is a full-corpus write, while
    # re-tokenizing is embarrassingly parallel and shuffle-free.
    from pyspark.sql import Observation

    d3 = common.parallelize(df).select("doc_id", ws.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("dl")
    )
    # corpus stats (n_docs, avgdl) ride the tf job as an Observation —
    # metrics accumulate while the checkpoint materializes d3, so the
    # second full tokenize pass the old stats aggregate cost (~0.65 s of
    # the 3 s sf0.1 total, r8) disappears; avgdl = float(sum)/count is the
    # same IEEE division the removed aggregate performed.
    obs = Observation("retrieval_corpus_stats")
    d3 = d3.observe(obs, F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    # query terms from the RAW input, filtered before tokenizing: the
    # doc_id predicate pushes into the parquet scan and only the 1/every
    # query docs get tokenized — routing this branch through the
    # parallelize'd d3 would shuffle the whole corpus text just to read
    # 1% of it.
    qt = (
        df.filter(F.col("doc_id") % every == 0)
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(F.slice("ws", 1, n_terms))).alias("term"),
        )
    )
    # ONE broadcast of qt serves both the semi-join prefilter and the
    # scoring join below (identical subtree → ReusedExchange): a semi
    # join tolerates build-side duplicate terms, so the separate
    # .select("term").distinct() broadcast was a second corpus-scan job
    # for nothing (r7 job census: 7 → 5 jobs).
    qt = F.broadcast(qt)
    tf = (
        d3.select("doc_id", "dl", F.explode("ws").alias("term"))
        .join(qt, "term", "left_semi")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf feeds BOTH the df-count aggregate and the scoring join; without a
    # cut the full corpus word-explode (the dominant cost) evaluates once
    # per consumer when the alias-differing subtrees miss ReusedExchange.
    # Post-semi-join tf is query-terms-only — tiny — so pin it.
    tf = tf.localCheckpoint(eager=True)
    try:
        got = obs.get  # checkpoint materialized d3 → metrics are final
        n_docs_v, sum_dl_v = int(got["n_docs"]), int(got["sum_dl"] or 0)
    except Exception:
        # Rare degenerate plan: an EMPTY query-term broadcast lets AQE
        # replace the semi join with a LocalRelation, pruning the observed
        # d3 subtree out of the executed plan entirely — the observation
        # then never fires. The result is empty in that case anyway; pay
        # the one explicit aggregate.
        r = d3.agg(F.count(F.lit(1)), F.sum("dl")).first()
        n_docs_v, sum_dl_v = int(r[0]), int(r[1] or 0)
    avgdl_v = float(sum_dl_v) / float(max(n_docs_v, 1))
    dfr = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("dfc"))
    scored = (
        tf.join(qt, "term")
        .join(F.broadcast(dfr), "term")
        .withColumn("n_docs", F.lit(n_docs_v))
        .withColumn("avgdl", F.lit(avgdl_v))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("dfc") + F.lit(0.5))
                    / (F.col("dfc") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1.0 - _BM25_B)
                        + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
                * F.lit(_BM25_SCALE)
            )
            .cast("long")
            .alias("sq"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(F.sum("sq").alias("score_q20"))
    # gold score via ONE unordered max-over-window on query_id instead of
    # checkpoint + gold-extraction + broadcast join (r7: two jobs and a
    # second pass over agg gone). The window computes a max, not a sort,
    # and its partitions are per-query candidate lists — bounded by the
    # query's term document frequencies, the same fan-out the scoring
    # join already carries.
    from pyspark.sql.window import Window as _W

    gold_sc = F.max(
        F.when(F.col("doc_id") == F.col("query_id"), F.col("score_q20"))
    ).over(_W.partitionBy("query_id"))
    better = (
        F.col("score_q20") > F.col("gold_score")
    ) | (
        (F.col("score_q20") == F.col("gold_score"))
        & (F.col("doc_id") < F.col("query_id"))
    )
    per = (
        agg.withColumn("gold_score", gold_sc)
        .filter(F.col("gold_score").isNotNull())  # inner-join parity
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(better.cast("long")).alias("n_better"),
            F.max("gold_score").alias("gold_score"),
        )
    )
    rank = F.col("n_better") + 1
    return per.select(
        "query_id",
        "n_candidates",
        rank.alias("gold_rank"),
        (rank == 1).cast("long").alias("hit_at_1"),
        (rank <= 10).cast("long").alias("hit_at_10"),
        (F.lit(1.0) / rank.cast("double")).alias("rr"),
        "gold_score",
    ).orderBy("query_id")


def q_retrieval_self_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval_self_eval(table(spark, sf_dir, "documents"))


RETRIEVAL_EVAL_SQL = rf"""
WITH d2 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), d3 AS (
  SELECT doc_id, ws, len(ws) AS dl FROM d2
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM d3
), qt AS (
  SELECT doc_id AS query_id, unnest(list_distinct(ws[1:{RETRIEVAL_EVAL_TERMS}])) AS term
  FROM d3 WHERE doc_id % {RETRIEVAL_EVAL_EVERY} = 0 AND len(ws) > 0
), tf AS (
  SELECT doc_id, dl, t.term, COUNT(*) AS tf
  FROM d3, UNNEST(ws) AS t(term)
  WHERE t.term IN (SELECT term FROM qt)
  GROUP BY doc_id, dl, t.term
), dfr AS (
  SELECT term, COUNT(DISTINCT doc_id) AS dfc FROM tf GROUP BY term
), scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(FLOOR(
           ln((s.n_docs - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
           * (tf.tf * {_BM25_K1 + 1.0!r})
           / (tf.tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * tf.dl / s.avgdl))
           * {_BM25_SCALE!r}
         ) AS BIGINT) AS sq
  FROM tf
  JOIN qt q ON q.term = tf.term
  JOIN dfr d ON d.term = tf.term
  CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, CAST(SUM(sq) AS BIGINT) AS score_q20
  FROM scored GROUP BY query_id, doc_id
), gold AS (
  SELECT query_id, score_q20 AS gold_score FROM agg WHERE doc_id = query_id
), per AS (
  SELECT a.query_id,
         COUNT(*) AS n_candidates,
         CAST(SUM(CASE WHEN a.score_q20 > g.gold_score
                        OR (a.score_q20 = g.gold_score AND a.doc_id < a.query_id)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_better,
         MAX(g.gold_score) AS gold_score
  FROM agg a JOIN gold g ON g.query_id = a.query_id
  GROUP BY a.query_id
)
SELECT query_id, n_candidates,
       n_better + 1 AS gold_rank,
       CAST(CASE WHEN n_better + 1 = 1 THEN 1 ELSE 0 END AS BIGINT) AS hit_at_1,
       CAST(CASE WHEN n_better + 1 <= 10 THEN 1 ELSE 0 END AS BIGINT) AS hit_at_10,
       1.0 / CAST(n_better + 1 AS DOUBLE) AS rr,
       gold_score
FROM per ORDER BY query_id
"""


# ---------------------------------------------------------- PII redaction

# Redaction placeholders, applied longest-match-class first so an email's
# digits aren't pre-mangled by the number rule (order matters and is part
# of the operator contract).
PII_REDACTIONS: tuple[tuple[str, str, str], ...] = (
    ("n_emails", PII_PATTERNS["n_emails"], "<EMAIL>"),
    ("n_urls", PII_PATTERNS["n_urls"], "<URL>"),
    ("n_ipv4", PII_PATTERNS["n_ipv4"], "<IP>"),
    ("n_phones", PII_PATTERNS["n_phones"], "<PHONE>"),
)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The mutation twin of :func:`pii_scan`: replace emails/URLs/IPs/
    phones with typed placeholders (the GDPR-grade step a pipeline runs
    between scanning and training) and account for every replacement —
    per-doc counts per class plus the redacted text's length delta.

    Same scale shape as the scan: chained codegen ``regexp_replace``
    passes, zero shuffles, zero UDFs; counts are computed on the ORIGINAL
    text so the audit trail is independent of replacement order.
    """
    c = F.col(text_col)
    red = c
    for _, pat, placeholder in PII_REDACTIONS:
        red = F.regexp_replace(red, pat, placeholder)
    counts = [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(name)
        for name, pat, _ in PII_REDACTIONS
    ]
    return df.select(
        "doc_id",
        *counts,
        red.alias("redacted_text"),
        (F.length(red) - F.length(c)).cast("long").alias("len_delta"),
    ).orderBy("doc_id")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_redact(table(spark, sf_dir, "documents"))


def _pii_redact_sql() -> str:
    red = "text"
    for _, pat, placeholder in PII_REDACTIONS:
        red = f"regexp_replace({red}, '{pat}', '{placeholder}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS {name}"
        for name, pat, _ in PII_REDACTIONS
    )
    return f"""
SELECT doc_id,
       {counts},
       {red} AS redacted_text,
       CAST(length({red}) - length(text) AS BIGINT) AS len_delta
FROM documents
ORDER BY doc_id
"""


PII_REDACT_SQL = _pii_redact_sql()


# ------------------------------------------------------ data budget plan

DATA_BUDGET_TOTAL_TOKENS = 1_000_000  # target training-token budget (test sf)
DATA_BUDGET_MAX_EPOCHS = 4.0  # Muennighoff et al. 2023: ~4 epochs before decay


def data_budget_plan(
    df: DataFrame,
    rates_permille: dict[str, int] | None = None,
    total_tokens: int = DATA_BUDGET_TOTAL_TOKENS,
    text_col: str = "text",
) -> DataFrame:
    """Training-data budget planner: given a target token budget and the
    per-source mixture weights, how many EPOCHS of each source does the
    plan imply — the table (Muennighoff et al. 2023, "Scaling
    Data-Constrained Language Models") that tells you which sources are
    data-constrained (needed epochs > ~4 stop helping) before any
    training run is launched.

    Per source: available whitespace tokens (exact int64 sum), the
    budget share needed_tokens = total · permille / 1000 (exact integer
    arithmetic), epochs_needed = needed / available (ONE division), and
    a data_constrained flag at the 4-epoch threshold.

    Scale shape: one explode-free token count (``size`` of the split
    array — no per-token rows) + a source-keyed aggregate; the plan
    itself is |sources| rows.
    """
    rates = rates_permille or MIXTURE_PERMILLE
    rate_expr = None
    for src, permille in rates.items():
        cond = F.col("source") == src
        rate_expr = (
            F.when(cond, permille)
            if rate_expr is None
            else rate_expr.when(cond, permille)
        )
    rate_expr = rate_expr.otherwise(F.lit(0))
    per = (
        df.select("source", TXT.word_count(F.col(text_col)).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("available_tokens"),
        )
        .withColumn("permille", rate_expr.cast("long"))
        .withColumn(
            "needed_tokens",
            (F.lit(total_tokens) * F.col("permille") / F.lit(1000)).cast("long"),
        )
    )
    epochs = F.col("needed_tokens").cast("double") / F.nullif(
        F.col("available_tokens"), F.lit(0)
    ).cast("double")
    return per.select(
        "source",
        "n_docs",
        "available_tokens",
        "permille",
        "needed_tokens",
        epochs.alias("epochs_needed"),
        (epochs > DATA_BUDGET_MAX_EPOCHS).alias("data_constrained"),
    ).orderBy("source")


def q_data_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return data_budget_plan(table(spark, sf_dir, "documents"))


def _data_budget_sql() -> str:
    case = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIXTURE_PERMILLE.items()
    )
    return rf"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x != ''))) AS BIGINT) AS available_tokens,
         CAST(CASE {case} ELSE 0 END AS BIGINT) AS permille
  FROM documents GROUP BY source
), plan AS (
  SELECT source, n_docs, available_tokens, permille,
         CAST({DATA_BUDGET_TOTAL_TOKENS} * permille / 1000 AS BIGINT) AS needed_tokens
  FROM per
)
SELECT source, n_docs, available_tokens, permille, needed_tokens,
       CAST(needed_tokens AS DOUBLE) / CAST(NULLIF(available_tokens, 0) AS DOUBLE)
         AS epochs_needed,
       (CAST(needed_tokens AS DOUBLE) / CAST(NULLIF(available_tokens, 0) AS DOUBLE)
        > {DATA_BUDGET_MAX_EPOCHS!r}) AS data_constrained
FROM plan ORDER BY source
"""


DATA_BUDGET_SQL = _data_budget_sql()


# ------------------------------------------------- markdown structure

def markdown_structure_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document markdown structure profile: heading/code-fence/table/
    list/link density — the format signals a markdown-centric pipeline
    (the reference ingests markdown end to end, SURVEY §2.1/§2.4) uses to
    route documents: table-heavy → the table splitter, fence-heavy →
    code handling, link-farm densities → drop.

    Pure ``regexp_count`` column algebra over one scan — the same
    zero-shuffle shape as pii_scan; ratios are single divisions of exact
    integers (NULL on empty docs, never a divide-by-zero).
    """
    c = F.col(text_col)
    n_lines = F.size(F.split(c, "\n"))
    # line anchors spelled as (^|\n), not (?m)^ — Java multiline ^ also
    # matches after \r and U+2028/9 where RE2 (the oracle's regex) only
    # matches after \n, so the explicit form is the dialect-stable one
    headings = F.regexp_count(c, F.lit(r"(^|\n)#{1,6} "))
    fences = F.regexp_count(c, F.lit(r"(^|\n)```"))
    table_rows = F.regexp_count(c, F.lit(r"(^|\n)\|"))
    bullets = F.regexp_count(c, F.lit(r"(^|\n)[ \t]*[-*+] "))
    links = F.regexp_count(c, F.lit(r"\[[^\]]*\]\([^)]*\)"))
    words = TXT.word_count(c)
    nl = F.when(n_lines > 0, n_lines)
    return df.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        headings.cast("long").alias("n_headings"),
        (fences / F.lit(2)).cast("long").alias("n_code_blocks"),
        table_rows.cast("long").alias("n_table_rows"),
        bullets.cast("long").alias("n_bullets"),
        links.cast("long").alias("n_links"),
        (table_rows.cast("double") / nl).alias("table_line_ratio"),
        (links.cast("double") / F.when(words > 0, words)).alias("link_density"),
    ).orderBy("doc_id")


def q_markdown_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markdown_structure_stats(table(spark, sf_dir, "documents"))


MARKDOWN_STRUCTURE_SQL = r"""
WITH base AS (
  SELECT doc_id,
         len(string_split(text, chr(10))) AS n_lines,
         len(regexp_extract_all(text, '(^|\n)#{1,6} ')) AS headings,
         len(regexp_extract_all(text, '(^|\n)```')) AS fences,
         len(regexp_extract_all(text, '(^|\n)\|')) AS table_rows,
         len(regexp_extract_all(text, '(^|\n)[ \t]*[-*+] ')) AS bullets,
         len(regexp_extract_all(text, '\[[^\]]*\]\([^)]*\)')) AS links,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) AS words
  FROM documents
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(headings AS BIGINT) AS n_headings,
       CAST(fences // 2 AS BIGINT) AS n_code_blocks,
       CAST(table_rows AS BIGINT) AS n_table_rows,
       CAST(bullets AS BIGINT) AS n_bullets,
       CAST(links AS BIGINT) AS n_links,
       CAST(table_rows AS DOUBLE) / NULLIF(n_lines, 0) AS table_line_ratio,
       CAST(links AS DOUBLE) / NULLIF(words, 0) AS link_density
FROM base ORDER BY doc_id
"""


# ----------------------------------------------------- license scanning

LICENSE_MARKERS: dict[str, str] = {
    "mit": r"(?i)\bMIT License\b",
    "apache": r"(?i)\bApache License\b",
    "gpl": r"(?i)\bGNU General Public License\b|\bGPL-[23]\b",
    "bsd": r"(?i)\bBSD [23]-Clause\b",
    "cc": r"(?i)\bCreative Commons\b|\bCC BY\b",
    "copyright": r"(?i)\bCopyright (\(c\)|©)",
}


def license_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """License / provenance marker scan — the compliance screen a code-
    or web-corpus pipeline runs before training (permissive-only corpus
    policies filter on exactly these markers). One codegen regex pass per
    marker class, zero shuffles; ``any_license`` flags docs needing
    routing through a license policy."""
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(p)).cast("long").alias(f"n_{name}")
        for name, p in LICENSE_MARKERS.items()
    ]
    any_lic = None
    for name in LICENSE_MARKERS:
        if name == "copyright":
            continue  # a copyright line alone is not a license grant
        hit = F.regexp_count(c, F.lit(LICENSE_MARKERS[name])) > 0
        any_lic = hit if any_lic is None else (any_lic | hit)
    return df.select("doc_id", *counts, any_lic.alias("any_license")).orderBy("doc_id")


def q_license_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return license_scan(table(spark, sf_dir, "documents"))


def _license_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{name}"
        for name, p in LICENSE_MARKERS.items()
    )
    any_terms = " OR ".join(
        f"len(regexp_extract_all(text, '{p}')) > 0"
        for name, p in LICENSE_MARKERS.items()
        if name != "copyright"
    )
    return f"""
SELECT doc_id,
       {cols},
       ({any_terms}) AS any_license
FROM documents ORDER BY doc_id
"""


LICENSE_SCAN_SQL = _license_sql()


def q_tlsh_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real TLSH digests for the corpus (functions/tlsh.py — full spec
    algorithm; the reference stamps the same column via the tlsh C lib,
    qdrant/step.py:264-283). Rows-only: the digest is engine-internal
    (no SQL TLSH); locality/distance semantics are pinned in
    tests/test_tlsh.py. The digest kernel is CPU-bound Python, so the
    input is round-robin repartitioned first (same rule as the shingle
    kernels — a one-file parquet otherwise runs the whole corpus on one
    core; measured 12.3 s → 0.9 s at 50 k docs on local[32])."""
    from wurzel_spark.functions.tlsh import tlsh_col

    docs = common.parallelize(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", tlsh_col(F.col("text")).alias("tlsh")
    ).orderBy("doc_id")


def compressibility_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc compressibility quality signals: zlib ratio (level 6,
    fixed → deterministic) and character Shannon entropy — the
    redundancy detectors that catch templated spam and keyboard-mash
    uniformly: highly repetitive text compresses far below ~0.4, random
    noise sits near 1.0 with ~6+ bits/char entropy, natural prose lands
    between. A standard curation feature alongside the Gopher rule
    battery.

    Rows-only (zlib output and log2 floats are engine-internal);
    deterministic and pinned by construction tests. Arrow-batched row-
    local kernel, ``parallelize``d input (CPU-bound Python — the
    tlsh_fingerprints rule)."""
    import zlib

    import numpy as np
    import pandas as pd

    def op(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = (text or "").encode("utf-8")
                n = len(raw)
                if n == 0:
                    rows.append((int(doc_id), 0, None, None))
                    continue
                ratio = len(zlib.compress(raw, 6)) / n
                counts = np.bincount(np.frombuffer(raw, dtype=np.uint8))
                p = counts[counts > 0] / n
                ent = float(-(p * np.log2(p)).sum())
                rows.append((int(doc_id), n, float(ratio), ent))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "zlib_ratio", "char_entropy"]
            )

    return common.parallelize(df.select("doc_id", text_col)).mapInPandas(
        op, "doc_id long, n_bytes long, zlib_ratio double, char_entropy double"
    ).orderBy("doc_id")


def q_compressibility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compressibility_stats(table(spark, sf_dir, "documents"))


# ------------------------------------------------- privacy-preserving aggs

KANON_MIN_GROUP = 5


def kanon_group_stats(
    df: DataFrame,
    group_cols: list[str],
    k: int = KANON_MIN_GROUP,
) -> DataFrame:
    """K-anonymity-style aggregate release: per-group doc and char
    counts, with groups of fewer than ``k`` members COALESCED into a
    single ``__suppressed__`` bucket instead of being dropped — the
    totals still reconcile, but no released row describes fewer than
    ``k`` individuals. The standard guard before publishing per-cohort
    corpus statistics (small groups are re-identification vectors).

    Scale shape: one grouped aggregate, a row-local suppression flag,
    one re-aggregate over the (already group-sized) table. The second
    pass touches group-count rows, not the corpus.
    """
    per = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )
    suppressed = F.col("n_docs") < k
    relabeled = per.select(
        *[
            F.when(suppressed, F.lit("__suppressed__")).otherwise(F.col(c)).alias(c)
            for c in group_cols
        ],
        "n_docs",
        "sum_chars",
    )
    return (
        relabeled.groupBy(*group_cols)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_chars").alias("sum_chars"),
            F.count(F.lit(1)).alias("n_merged_groups"),
        )
        .orderBy(*group_cols)
    )


def q_kanon_source_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kanon_group_stats(table(spark, sf_dir, "documents"), ["source", "lang"])


KANON_SQL = f"""
WITH per AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source, lang
), relabeled AS (
  SELECT CASE WHEN n_docs < {KANON_MIN_GROUP} THEN '__suppressed__' ELSE source END AS source,
         CASE WHEN n_docs < {KANON_MIN_GROUP} THEN '__suppressed__' ELSE lang END AS lang,
         n_docs, sum_chars
  FROM per
)
SELECT source, lang,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(sum_chars) AS BIGINT) AS sum_chars,
       COUNT(*) AS n_merged_groups
FROM relabeled GROUP BY source, lang ORDER BY source, lang
"""


# ------------------------------------------------ n-gram diversity stats

def ngram_diversity_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-n diversity per source (Li et al. 2016's distinct-n,
    corpus-level): for n ∈ {1,2,3}, the count of n-gram TOKENS, the count
    of DISTINCT n-grams, and their ratio — the standard self-repetition /
    memorization smell test run before training. A source whose
    distinct-2 ratio collapses is boilerplate-heavy even when exact-dup
    filters pass.

    One tokenize pass builds all three gram arrays row-locally (slice
    over the word array — the shingle precedent from operators/dedup);
    ONE explode + ONE groupBy(source, n, gram) carries 8-byte xxhash64
    gram keys, never gram strings, with map-side partial aggregation.
    Distinct counts are exact (count of post-group rows, not a sketch) —
    the HLL twin for 100 TB lives in operators/sketches.
    """
    ws = TXT.words(F.col(text_col))
    grams = F.flatten(
        F.transform(
            F.array(*[F.lit(n) for n in (1, 2, 3)]),
            lambda n: F.element_at(
                F.transform(
                    F.array(ws),
                    lambda w: TXT.windows(
                        w,
                        n,
                        lambda g: F.struct(n.alias("n"), F.xxhash64(g).alias("g")),
                        F.array().cast("array<struct<n:int,g:bigint>>"),
                    ),
                ),
                1,
            ),
        )
    )

    exploded = (
        common.parallelize(df)  # gram explode is CPU-bound; one-file parquet = one core
        .select("source", grams.alias("grams"))
        .select("source", F.explode("grams").alias("gr"))
        .select("source", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
    )
    per_gram = exploded.groupBy("source", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_gram.groupBy("source", "n")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            "source",
            "n",
            "n_grams",
            "n_distinct",
            (F.col("n_distinct").cast("double") / F.col("n_grams").cast("double")).alias(
                "distinct_ratio"
            ),
        )
        .orderBy("source", "n")
    )


def q_ngram_diversity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_diversity_stats(table(spark, sf_dir, "documents"))


# Oracle counts literal gram strings; Spark counts xxhash64 of the token
# slice — totals and distinct counts agree modulo ~2⁻⁶⁵ collisions (the
# duplicated_span_stats precedent).
NGRAM_DIVERSITY_SQL = r"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), grams AS (
  SELECT source, t.n, array_to_string(ws[i:i+t.n-1], ' ') AS g
  FROM toks,
       (VALUES (1), (2), (3)) AS t(n),
       UNNEST(range(1, len(ws) - t.n + 2)) AS u(i)
  WHERE len(ws) >= t.n
)
SELECT source, n,
       COUNT(*) AS n_grams,
       COUNT(DISTINCT g) AS n_distinct,
       CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS distinct_ratio
FROM grams
GROUP BY source, n
ORDER BY source, n
"""


# ------------------------------------------- quality threshold sweep

# Yield-curve grid: thresholds 0, 100, ... 1000 over the integer
# stopword-density score q1000 = floor(1000 * stopword_hits / n_words).
QUALITY_SWEEP_STEP = 100
QUALITY_SWEEP_POINTS = 11  # k = 0..10  →  threshold = k * 100


def quality_threshold_sweep(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(source, threshold) yield curve: how many documents and
    whitespace tokens survive the gate ``q1000 >= threshold`` for every
    threshold on a fixed grid, where q1000 is the integer stopword
    density floor(1000 * stopword_hits / n_words) (0 for empty docs).
    This is the calibration readout a curation pipeline consults before
    picking a quality cutoff (FineWeb-style threshold sweeps): the curve
    shows the doc/token cost of each candidate gate per corpus slice.

    Scale shape: ONE full-corpus map + ONE grouped aggregation onto
    (source, score-bucket) — at most n_sources x 11 bucket rows leave the
    shuffle — then the sweep itself runs entirely on that metadata-sized
    bucket table (suffix sums via a tiny grid join, every join
    broadcast-sized). Per-threshold rescans of the corpus would be
    11 scans; this is one, and adding grid points costs nothing.
    All counts are exact int64; the two fracs are single IEEE divisions.
    """
    return sweep_from_buckets(quality_score_buckets(df, text_col))


def quality_score_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, b, n_docs, n_tokens) score-bucket partials — the one
    corpus-sized pass of the sweep, and the staging unit of the
    streaming twin (streaming/quality.py): bucket partials are additive,
    so per-batch rows summed at drain equal the batch aggregate."""
    c = F.col(text_col)
    per_doc = common.parallelize(df).select(
        "source",
        TXT.word_count(c).cast("long").alias("nw"),
        TXT.marker_words_count(c, STOPWORDS).cast("long").alias("sh"),
    )
    # integer floor-div on both engines (`div` / `//`): exact, no floats
    scored = per_doc.select(
        "source",
        "nw",
        F.when(F.col("nw") > 0, F.expr("(1000 * sh) div nw"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("q1000"),
    )
    return scored.groupBy(
        "source", F.expr(f"q1000 div {QUALITY_SWEEP_STEP}").alias("b")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nw").alias("n_tokens"),
    )


def sweep_from_buckets(buckets: DataFrame) -> DataFrame:
    """The metadata-sized sweep tail shared with the streaming twin:
    (source, b, n_docs, n_tokens) bucket rows → the full yield-curve
    grid."""
    spark = buckets.sparkSession
    buckets = buckets.localCheckpoint(eager=True)  # tiny; feeds 3 subtrees
    grid = spark.range(QUALITY_SWEEP_POINTS).select(
        F.col("id").alias("k"),
        (F.col("id") * QUALITY_SWEEP_STEP).cast("long").alias("threshold"),
    )
    kept = (
        buckets.crossJoin(F.broadcast(grid))
        .filter(F.col("b") >= F.col("k"))
        .groupBy("source", "threshold")
        .agg(
            F.sum("n_docs").alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
    )
    totals = buckets.groupBy("source").agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_tokens").alias("tot_tokens")
    )
    frame = buckets.select("source").distinct().crossJoin(F.broadcast(grid))
    return (
        frame.join(kept, ["source", "threshold"], "left")
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "threshold",
            F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
            (F.coalesce("n_docs_kept", F.lit(0)).cast("double") / F.col("tot_docs"))
            .alias("doc_frac"),
            (
                F.coalesce("n_tokens_kept", F.lit(0)).cast("double")
                / F.col("tot_tokens")
            ).alias("token_frac"),
        )
        .orderBy("source", "threshold")
    )


def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_threshold_sweep(table(spark, sf_dir, "documents"))


def _quality_sweep_sql() -> str:
    sh = _dd_markers(STOPWORDS)
    return rf"""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS nw,
         {sh} AS sh
  FROM documents
), scored AS (
  SELECT source, nw,
         CASE WHEN nw > 0 THEN (1000 * sh) // nw ELSE 0 END AS q1000
  FROM per_doc
), buckets AS (
  SELECT source, q1000 // {QUALITY_SWEEP_STEP} AS b,
         CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_tokens
  FROM scored GROUP BY source, q1000 // {QUALITY_SWEEP_STEP}
), grid AS (
  SELECT k, CAST(k * {QUALITY_SWEEP_STEP} AS BIGINT) AS threshold
  FROM UNNEST(range(0, {QUALITY_SWEEP_POINTS})) AS t(k)
), kept AS (
  SELECT b.source, g.threshold,
         CAST(SUM(b.n_docs) AS BIGINT) AS n_docs_kept,
         CAST(SUM(b.n_tokens) AS BIGINT) AS n_tokens_kept
  FROM buckets b, grid g WHERE b.b >= g.k
  GROUP BY b.source, g.threshold
), totals AS (
  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
  FROM buckets GROUP BY source
)
SELECT f.source AS source, g.threshold AS threshold,
       COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
       COALESCE(k.n_tokens_kept, 0) AS n_tokens_kept,
       CAST(COALESCE(k.n_docs_kept, 0) AS DOUBLE) / t.tot_docs AS doc_frac,
       CAST(COALESCE(k.n_tokens_kept, 0) AS DOUBLE) / t.tot_tokens AS token_frac
FROM (SELECT DISTINCT source FROM documents) f
CROSS JOIN grid g
LEFT JOIN kept k ON k.source = f.source AND k.threshold = g.threshold
JOIN totals t ON t.source = f.source
ORDER BY f.source, g.threshold
"""


QUALITY_SWEEP_SQL = _quality_sweep_sql()


# ------------------------------------------------- vocabulary growth

VOCAB_GROWTH_POINTS = 8


def vocab_growth_curve(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heaps'-law readout: distinct vocabulary size after each prefix of
    the corpus (ordered by doc_id), at 8 evenly-spaced prefix boundaries.
    The curve a tokenizer-training pipeline consults to size its vocab
    and decide when the corpus stops yielding new types — sublinear
    growth flattening early means more data buys no new vocabulary.

    Scale shape: ONE explode + ONE groupBy on the 8-byte xxhash64 of the
    token (map-side combine; the ngram_diversity precedent — counts match
    the literal-string oracle modulo ~2⁻⁶⁵ collisions) producing the
    (term, first_doc) table; the curve then needs only broadcast joins
    of slim projections against the 8-row boundary grid (each ≤8× row
    expansion of a 16-byte projection, map-side, grouped to 8 keys).
    The boundary ranks come from the house rank-ceil definition — a
    global row-number window at audit scale; swap the boundaries for
    hash_sample_quantiles at 100 TB (same output schema).

    Every output column is an exact int64.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    c = F.col(text_col)
    toks = common.parallelize(df).select(
        "doc_id", F.explode(TXT.words(c)).alias("w")
    ).select("doc_id", F.xxhash64("w").alias("h"))
    first = toks.groupBy("h").agg(F.min("doc_id").alias("fd"))

    docs = df.select("doc_id", TXT.word_count(c).cast("long").alias("nt"))
    ranked = docs.withColumn(
        "__rn", F.row_number().over(W.orderBy("doc_id"))
    ).withColumn("__n", F.count(F.lit(1)).over(W.partitionBy()))
    grid_k = spark.range(1, VOCAB_GROWTH_POINTS + 1).select(
        F.col("id").alias("k")
    )
    bounds = (
        ranked.crossJoin(F.broadcast(grid_k))
        .filter(
            F.col("__rn")
            == F.expr(f"(k * __n + {VOCAB_GROWTH_POINTS - 1}) div {VOCAB_GROWTH_POINTS}").cast("int")
        )
        .select(
            "k",
            F.col("doc_id").alias("boundary_doc_id"),
            F.col("__rn").cast("long").alias("n_docs_prefix"),
        )
        .localCheckpoint(eager=True)  # 8 rows; feeds two counting passes
    )
    tokens_prefix = (
        docs.join(
            F.broadcast(bounds), docs.doc_id <= F.col("boundary_doc_id")
        )
        .groupBy("k")
        .agg(F.sum("nt").alias("n_tokens_prefix"))
    )
    vocab_prefix = (
        first.join(F.broadcast(bounds), F.col("fd") <= F.col("boundary_doc_id"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_distinct_terms"))
    )
    return (
        bounds.join(tokens_prefix, "k")
        .join(vocab_prefix, "k")
        .select(
            "k", "boundary_doc_id", "n_docs_prefix",
            "n_tokens_prefix", "n_distinct_terms",
        )
        .orderBy("k")
    )


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_growth_curve(table(spark, sf_dir, "documents"))


VOCAB_GROWTH_SQL = rf"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                    x -> x != '')) AS w
  FROM documents
), first AS (
  SELECT w, MIN(doc_id) AS fd FROM toks GROUP BY w
), docs AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x != '')) AS BIGINT) AS nt
  FROM documents
), ranked AS (
  SELECT doc_id, nt,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM docs
), bounds AS (
  SELECT g.k, r.doc_id AS boundary_doc_id, CAST(r.rn AS BIGINT) AS n_docs_prefix
  FROM ranked r, UNNEST(range(1, {VOCAB_GROWTH_POINTS + 1})) AS g(k)
  WHERE r.rn = (g.k * r.n + {VOCAB_GROWTH_POINTS - 1}) // {VOCAB_GROWTH_POINTS}
)
SELECT b.k AS k, b.boundary_doc_id, b.n_docs_prefix,
       (SELECT CAST(SUM(d.nt) AS BIGINT) FROM docs d
        WHERE d.doc_id <= b.boundary_doc_id) AS n_tokens_prefix,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM first f
        WHERE f.fd <= b.boundary_doc_id) AS n_distinct_terms
FROM bounds b ORDER BY b.k
"""


# ------------------------------------------------ source overlap matrix

OVERLAP_GRAM_N = 5


def source_overlap_matrix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pairwise {OVERLAP_GRAM_N}-gram containment between corpus slices:
    for every ordered source pair (a, b), the count of a's distinct word
    5-grams, how many also occur in b, and containment = shared / |a|.
    The inter-source contamination diagnostic a mixture designer reads
    before weighting corpora: high containment of a benchmark-derived
    slice inside a web slice is leakage; near-identical slices shouldn't
    both get full weight (the decontamination_overlap / containment_pairs
    DOC-level family lifted to the corpus level).

    Scale shape: ONE tokenize+explode pass → groupBy(source, gram-hash)
    distinct (map-side combine on 8-byte keys; the diversity precedent:
    Spark carries xxhash64, the oracle literal grams — equal modulo
    ~2⁻⁶⁵ collisions).  The self-join is co-partitioned on the hash and
    its output is bounded by n_sources² rows per gram; everything after
    is an n_sources²-row metadata table.  n_sources is assumed
    dashboard-small (≤ thousands) — for per-DOMAIN overlap at web scale,
    pre-bucket to the KMV sketch union/intersection estimator
    (operators/sketches) instead of exact counting.
    """
    ws = TXT.words(F.col(text_col))
    n = OVERLAP_GRAM_N
    grams_arr = F.element_at(
        F.transform(
            F.array(ws),
            lambda w: TXT.windows(w, n, F.xxhash64, F.array().cast("array<bigint>")),
        ),
        1,
    )
    grams = (
        df.select("source", F.explode(grams_arr).alias("h"))
        .groupBy("source", "h")
        .agg(F.lit(1))
        .select("source", "h")
    )
    grams = grams.localCheckpoint(eager=True)  # feeds sizes + both join sides
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        grams.select(F.col("source").alias("src_a"), "h")
        .join(grams.select(F.col("source").alias("src_b"), "h"), "h")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    frame = (
        sizes.select(F.col("source").alias("src_a"), "n_grams")
        .crossJoin(sizes.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") != F.col("src_b"))
    )
    return (
        frame.join(shared, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.col("n_grams").alias("n_grams_a"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (
                F.coalesce("n_shared", F.lit(0)).cast("double")
                / F.when(F.col("n_grams") > 0, F.col("n_grams"))
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_overlap_matrix(table(spark, sf_dir, "documents"))


SOURCE_OVERLAP_SQL = rf"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), grams AS (
  SELECT DISTINCT source, array_to_string(ws[i:i+{OVERLAP_GRAM_N - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(ws) - {OVERLAP_GRAM_N} + 2)) AS u(i)
  WHERE len(ws) >= {OVERLAP_GRAM_N}
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY source
), shared AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM grams a JOIN grams b ON b.g = a.g AND b.source != a.source
  GROUP BY a.source, b.source
)
SELECT f.src_a AS src_a, f.src_b AS src_b,
       f.n_grams AS n_grams_a,
       COALESCE(s.n_shared, 0) AS n_shared,
       CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / NULLIF(f.n_grams, 0) AS containment
FROM (
  SELECT x.source AS src_a, x.n_grams, y.source AS src_b
  FROM sizes x CROSS JOIN sizes y WHERE x.source != y.source
) f
LEFT JOIN shared s ON s.src_a = f.src_a AND s.src_b = f.src_b
ORDER BY f.src_a, f.src_b
"""


# --------------------------------------------- Good-Turing freq-of-freq

GT_MAX_FREQ = 5


def term_freq_of_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source frequency-of-frequencies — the Good-Turing smoothing
    input: how many term types occur exactly once (hapax legomena),
    twice, ... up to {GT_MAX_FREQ} times, plus the GT unseen-mass
    estimate p_unseen = f1 / n_tokens (the probability the NEXT token is
    a never-seen type).  The readout behind OOV-rate forecasting and
    "is more of this source worth tokenizing" decisions; a source whose
    hapax share stays high keeps yielding new vocabulary
    ([[vocab-growth]] is the cumulative view, this is the density view).

    Scale shape: ONE explode + groupBy(source, term-hash) with map-side
    combine (xxhash64 keys; the diversity precedent — counts equal the
    literal-string oracle modulo ~2⁻⁶⁵ collisions), then a
    count-histogram aggregate over the type table (distinct-type-sized,
    shuffles only (source, capped-freq) keys).  Integer everywhere but
    the single p_unseen division.
    """
    return fof_from_types(term_type_counts(df, text_col))


def term_type_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, h, c) per-type counts — the corpus-sized pass, and the
    staging unit of the streaming twin (streaming/fof.py): type counts
    are additive across batches, and the twin's AGGREGATING fold keeps
    the state bounded at one row per live type."""
    c = F.col(text_col)
    return (
        common.parallelize(df)
        .select("source", F.explode(TXT.words(c)).alias("w"))
        .groupBy("source", F.xxhash64("w").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fof_from_types(types: DataFrame) -> DataFrame:
    """The capped-histogram tail shared with the streaming twin."""
    fcap = F.least(F.col("c"), F.lit(GT_MAX_FREQ + 1))
    hist = types.groupBy("source", fcap.alias("f")).agg(
        F.count(F.lit(1)).alias("n_types_f"),
        F.sum("c").alias("n_tokens_f"),
    )
    pivots = [
        F.sum(F.when(F.col("f") == i, F.col("n_types_f")))
        .cast("long")
        .alias(f"f{i}")
        for i in range(1, GT_MAX_FREQ + 1)
    ]
    return (
        hist.groupBy("source")
        .agg(
            F.sum("n_tokens_f").alias("n_tokens"),
            F.sum("n_types_f").alias("n_types"),
            *pivots,
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            *[F.coalesce(f"f{i}", F.lit(0)).alias(f"f{i}") for i in range(1, GT_MAX_FREQ + 1)],
            (
                F.coalesce("f1", F.lit(0)).cast("double")
                / F.when(F.col("n_tokens") > 0, F.col("n_tokens"))
            ).alias("p_unseen"),
        )
        .orderBy("source")
    )


def q_term_freq_of_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_freq_of_freq(table(spark, sf_dir, "documents"))


TERM_FREQ_OF_FREQ_SQL = rf"""
WITH toks AS (
  SELECT source, UNNEST(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                    x -> x != '')) AS w
  FROM documents
), types AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, w
), hist AS (
  SELECT source, LEAST(c, {GT_MAX_FREQ + 1}) AS f,
         CAST(COUNT(*) AS BIGINT) AS n_types_f,
         CAST(SUM(c) AS BIGINT) AS n_tokens_f
  FROM types GROUP BY source, LEAST(c, {GT_MAX_FREQ + 1})
)
SELECT source,
       CAST(SUM(n_tokens_f) AS BIGINT) AS n_tokens,
       CAST(SUM(n_types_f) AS BIGINT) AS n_types,
       {", ".join(f"CAST(COALESCE(SUM(CASE WHEN f = {i} THEN n_types_f END), 0) AS BIGINT) AS f{i}" for i in range(1, GT_MAX_FREQ + 1))},
       CAST(COALESCE(SUM(CASE WHEN f = 1 THEN n_types_f END), 0) AS DOUBLE)
         / NULLIF(CAST(SUM(n_tokens_f) AS BIGINT), 0) AS p_unseen
FROM hist GROUP BY source ORDER BY source
"""


# ---------------------------------------------- stratified eval sample

EVAL_SAMPLE_PER_STRATUM = 5


def eval_sample_manifest(
    df: DataFrame, per_stratum: int = EVAL_SAMPLE_PER_STRATUM
) -> DataFrame:
    """Deterministic stratified sample manifest: the bottom-``per_stratum``
    doc_ids by the sampling hash within every (source, lang) stratum —
    the frozen eval-set recipe (same corpus ⇒ same manifest, any engine,
    any partitioning; the bottom-k semilattice argument from
    operators/sketches).  One window shuffle on the compound stratum key.
    """
    from pyspark.sql import Window as W

    from wurzel_spark.operators.sketches import _knuth_hash

    w = W.partitionBy("source", "lang").orderBy(
        _knuth_hash("doc_id").asc(), F.col("doc_id")
    )
    return (
        df.select("source", "lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_stratum)
        .select("source", "lang", "doc_id", F.col("rk").cast("long").alias("rk"))
        .orderBy("source", "lang", "rk")
    )


def q_eval_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eval_sample_manifest(table(spark, sf_dir, "documents"))


EVAL_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT source, lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source, lang
           ORDER BY ((doc_id % 1000003) * 2654435761) % 4294967296, doc_id
         ) AS rk
  FROM documents
)
SELECT source, lang, doc_id, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {EVAL_SAMPLE_PER_STRATUM}
ORDER BY source, lang, rk
"""


# --------------------------------------- classifier-eval battery (round 8)

CALIBRATION_N_BINS = 10


def score_calibration_bins(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Reliability diagram for a cheap quality score against an expensive
    rule battery: per decile bin of the integer stopword-density score
    (q1000 = 1000·stop_hits div n_words, the quality_threshold_sweep
    score), how often does the Gopher keep verdict agree?  The per-bin
    |mean score − observed keep rate| gap is the per-bin ECE contribution
    — the standard readout before trusting a fast scorer as a proxy gate
    for a slow one (FineWeb-Edu-style classifier distillation does
    exactly this calibration step before corpus-scale deployment).

    All columns are exact integers (floor-div permille) — cross-engine
    bit-exact.  Scale shape: ONE corpus scan computes both the score and
    the Gopher flags (shared select), then a 10-row grouped aggregate;
    no joins, no windows over corpus-sized data.

    Reference parity: wurzel gates documents with per-step contract
    metrics (steps/data/contracts.py); this is the calibration audit a
    learned gate needs on top.
    """
    return calibration_from_hist(score_label_hist(df, text_col))


def score_label_hist(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The ONE corpus pass behind the whole classifier-eval battery:
    per (source, q1000) — the integer stopword-density score × the Gopher
    keep verdict, computed in the same select — positive and negative doc
    counts.  ≤1001 rows per source, ADDITIVE across any corpus split, so
    it is also the staging unit of the streaming twin
    (streaming/calibration.py); calibration bins AND the exact AUC both
    derive from it without touching the corpus again."""
    c = F.col(text_col)
    n_words = F.size(TXT.words(c))
    stop_hits = TXT.marker_words_count(c, STOPWORDS)
    flags, _ = _gopher_flag_exprs(c)
    keep = _gopher_keep(flags)
    per_doc = df.select(
        "source",
        F.when(n_words > 0, F.lit(1000) * stop_hits.cast("long"))
        .otherwise(F.lit(0))
        .alias("__num"),
        F.when(n_words > 0, n_words.cast("long")).otherwise(F.lit(1)).alias("__den"),
        keep.cast("long").alias("keep"),
    ).select(
        "source", F.expr("__num div __den").cast("long").alias("q1000"), "keep"
    )
    return per_doc.groupBy("source", "q1000").agg(
        F.sum("keep").alias("pos"),
        (F.count(F.lit(1)) - F.sum("keep")).alias("neg"),
    )


def calibration_from_hist(hist: DataFrame) -> DataFrame:
    """Corpus-level reliability bins from the (source, q1000, pos, neg)
    histogram — bin counts and score mass are exact sums over the
    metadata-sized histogram rows."""
    binned = hist.groupBy(
        F.least(F.expr("q1000 div 100"), F.lit(CALIBRATION_N_BINS - 1))
        .cast("long")
        .alias("bin")
    ).agg(
        F.sum(F.col("pos") + F.col("neg")).alias("n_docs"),
        F.sum("pos").alias("n_keep"),
        F.sum(F.col("q1000") * (F.col("pos") + F.col("neg"))).alias("sum_q"),
    )
    return binned.select(
        "bin",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_keep").cast("long").alias("n_keep"),
        F.expr("(1000 * n_keep) div n_docs").cast("long").alias("keep_permille"),
        F.expr("sum_q div n_docs").cast("long").alias("mean_score_permille"),
        F.abs(
            F.expr("(1000 * n_keep) div n_docs") - F.expr("sum_q div n_docs")
        )
        .cast("long")
        .alias("abs_gap_permille"),
    ).orderBy("bin")


def q_score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_calibration_bins(table(spark, sf_dir, "documents"))


def _calibration_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH {_GOPHER_CTE},
keepers AS (
  SELECT doc_id, {_GOPHER_KEEP_EXPR} AS gopher_keep FROM f
), scored AS (
  SELECT doc_id,
         CASE WHEN len(ws) > 0
              THEN (1000 * len(list_filter(ws, w -> list_contains([{stoplist}], w)))) // len(ws)
              ELSE 0 END AS q1000
  FROM base
), joined AS (
  SELECT LEAST(q1000 // 100, {CALIBRATION_N_BINS - 1}) AS bin, q1000,
         CASE WHEN gopher_keep THEN 1 ELSE 0 END AS keep
  FROM scored JOIN keepers USING (doc_id)
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       CAST((1000 * SUM(keep)) // COUNT(*) AS BIGINT) AS keep_permille,
       CAST(SUM(q1000) // COUNT(*) AS BIGINT) AS mean_score_permille,
       CAST(ABS((1000 * SUM(keep)) // COUNT(*) - SUM(q1000) // COUNT(*)) AS BIGINT) AS abs_gap_permille
FROM joined GROUP BY bin ORDER BY bin
"""


CALIBRATION_SQL = _calibration_sql()


def tokenizer_fertility_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenizer fertility per (source, lang): subword-to-word ratio and
    chars-per-subword under the repo's BPE-ish subword estimate
    (ceil(word_len/4), the token_stats estimator) — the readout that
    decides whether a tokenizer needs retraining for a corpus slice
    (high fertility on a language = over-segmentation = wasted context
    window; the standard multilingual-tokenizer audit).

    Scale shape: one scan, one grouped aggregate keyed by the (small)
    source×lang grid; fertility is an integer floor-div permille, the
    chars ratio a single division of exact int64 sums — cross-engine
    bit-exact.

    Reference parity: wurzel truncates by token count via its tokenizer
    adapter (utils/tokenizers.py); fertility is the corpus-level audit of
    that same estimate.
    """
    return fertility_from_sums(fertility_sums(df, text_col))


def fertility_sums(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus pass: ADDITIVE per-(source, lang) partial sums — the
    staging unit of the streaming twin (streaming/fertility.py)."""
    c = F.col(text_col)
    ws = TXT.words(c)
    per = df.select(
        "source",
        "lang",
        F.size(ws).cast("long").alias("nw"),
        F.aggregate(
            ws,
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
        ).alias("nsub"),
        F.length(c).cast("long").alias("nc"),
    )
    return per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nw").alias("n_ws_tokens"),
        F.sum("nsub").alias("n_subword_tokens"),
        F.sum("nc").alias("n_chars"),
    )


def fertility_from_sums(agg: DataFrame) -> DataFrame:
    """The metadata-sized tail shared with the streaming twin: derived
    ratios from the exact integer sums."""
    return agg.select(
        "source",
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_subword_tokens").cast("long").alias("n_subword_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.when(
            F.col("n_ws_tokens") > 0,
            F.expr("(1000 * n_subword_tokens) div n_ws_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("fertility_permille"),
        (
            F.col("n_chars").cast("double")
            / F.when(F.col("n_subword_tokens") > 0, F.col("n_subword_tokens")).cast(
                "double"
            )
        ).alias("chars_per_subword"),
    ).orderBy("source", "lang")


def q_tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenizer_fertility_stats(table(spark, sf_dir, "documents"))


TOKENIZER_FERTILITY_SQL = r"""
WITH w AS (
  SELECT source, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws,
         length(text) AS nc
  FROM documents
), per AS (
  SELECT source, lang, len(ws) AS nw,
         COALESCE(CAST(list_sum(list_transform(ws, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT), 0) AS nsub,
         nc
  FROM w
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(nsub) AS BIGINT) AS n_subword_tokens,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       CAST(CASE WHEN SUM(nw) > 0 THEN (1000 * SUM(nsub)) // SUM(nw) ELSE 0 END AS BIGINT) AS fertility_permille,
       CAST(SUM(nc) AS DOUBLE) / NULLIF(CAST(SUM(nsub) AS DOUBLE), 0) AS chars_per_subword
FROM per
GROUP BY source, lang
ORDER BY source, lang
"""


def langid_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the corpus's
    own labels, with per-cell recall/precision permille — the eval every
    classifier deployed as a corpus gate needs BEFORE its predictions
    drive filtering (a lang-ID that silently shreds one language's recall
    biases the whole mixture downstream).

    Scale shape: the corpus-sized lang_id scan collapses to at most
    (K+1)² confusion cells in one grouped aggregate; the totals windows
    run over that metadata-sized cell table, never the corpus.  All
    ratios are integer floor-div permille — cross-engine bit-exact.
    """
    from pyspark.sql import Window

    pred = lang_id(common.parallelize(df), text_col)
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_label = Window.partitionBy("labeled_lang")
    w_pred = Window.partitionBy("predicted_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        F.col("n").cast("long").alias("n"),
        F.sum("n").over(w_label).cast("long").alias("n_label_total"),
        F.sum("n").over(w_pred).cast("long").alias("n_pred_total"),
    ).select(
        "labeled_lang",
        "predicted_lang",
        "n",
        "n_label_total",
        "n_pred_total",
        F.expr("(1000 * n) div n_label_total").cast("long").alias("recall_permille"),
        F.expr("(1000 * n) div n_pred_total").cast("long").alias("precision_permille"),
    ).orderBy("labeled_lang", "predicted_lang")


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return langid_confusion(table(spark, sf_dir, "documents"))


def _langid_confusion_sql() -> str:
    return f"""
WITH pred AS ({_lang_id_sql(order_by=False)}),
cells AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY labeled_lang, predicted_lang
), tot AS (
  SELECT labeled_lang, predicted_lang, n,
         CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS n_label_total,
         CAST(SUM(n) OVER (PARTITION BY predicted_lang) AS BIGINT) AS n_pred_total
  FROM cells
)
SELECT labeled_lang, predicted_lang, n, n_label_total, n_pred_total,
       CAST((1000 * n) // n_label_total AS BIGINT) AS recall_permille,
       CAST((1000 * n) // n_pred_total AS BIGINT) AS precision_permille
FROM tot
ORDER BY labeled_lang, predicted_lang
"""


LANGID_CONFUSION_SQL = _langid_confusion_sql()


# -------------------------------------------- Luhn-validated PII (round 8)

# inner {11,21} = 13..23 total CHARS: a 19-digit PAN written with four
# separators ("6212 3456 7890 1234 567") is 23 chars — the old {10,17}
# cap truncated it to a 16-digit prefix that could never Luhn-validate
# (review finding, r8). Cleaned-length 13..19 stays the digit gate.
_CARD_CANDIDATE_RE = r"[0-9](?:[0-9 -]{11,21})[0-9]"


def pii_luhn_validated(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Checksum-validated payment-card detection: the regex candidate set
    (13–19 digits allowing space/dash separators) is filtered through the
    Luhn mod-10 check — the validation step that separates real card
    numbers from phone numbers, timestamps, and ID strings the raw regex
    also matches.  Redacting on regex alone destroys ~10× more innocent
    digit strings than validated redaction; the (n_candidates −
    n_luhn_valid) gap per document is exactly that saved collateral.

    All arithmetic is exact integers (digit sums, mod 10) over let-bound
    candidate arrays — one scan, no shuffle beyond the final sort, no
    UDFs; the DuckDB twin runs the same digit algebra via list_transform,
    so the query is hash-green, not rows-only.
    """
    c = F.col(text_col)
    cands = F.regexp_extract_all(c, F.lit(_CARD_CANDIDATE_RE), 0)

    # digit-sum expression built over a bound cleaned string s:
    # position-from-right r = len - i; double when r is odd; subtract 9
    # when the doubled value exceeds 9; valid iff total % 10 == 0 and the
    # cleaned length is a real card length (13..19).
    def _luhn_ok(s):
        n = F.length(s)
        total = F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0),
            lambda acc, i: acc
            + F.when(
                ((n - i) % 2) == 1,
                F.when(
                    (F.ascii(F.substring(s, i, 1)) - 48) * 2 > 9,
                    (F.ascii(F.substring(s, i, 1)) - 48) * 2 - 9,
                ).otherwise((F.ascii(F.substring(s, i, 1)) - 48) * 2),
            ).otherwise(F.ascii(F.substring(s, i, 1)) - 48),
        )
        return (n >= 13) & (n <= 19) & ((total % 10) == 0)

    cleaned = F.transform(cands, lambda g: F.regexp_replace(g, r"[^0-9]", ""))
    valid = F.filter(cleaned, _luhn_ok)
    return df.select(
        "doc_id",
        F.size(cands).cast("long").alias("n_candidates"),
        F.size(valid).cast("long").alias("n_luhn_valid"),
        (F.size(valid) > 0).alias("card_flag"),
    ).orderBy("doc_id")


def q_pii_luhn_validated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_luhn_validated(table(spark, sf_dir, "documents"))


_PII_LUHN_SQL_RAW = r"""
WITH cands AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(text, '@CARD_RE@'),
           g -> regexp_replace(g, '[^0-9]', '', 'g')) AS cleaned,
         len(regexp_extract_all(text, '@CARD_RE@')) AS n_candidates
  FROM documents
), v AS (
  SELECT doc_id, n_candidates,
         len(list_filter(cleaned, s ->
           length(s) >= 13 AND length(s) <= 19 AND
           (list_sum(list_transform(range(1, length(s) + 1), i ->
              CASE WHEN (length(s) - i) % 2 = 1
                   THEN CASE WHEN (ascii(substr(s, CAST(i AS INT), 1)) - 48) * 2 > 9
                             THEN (ascii(substr(s, CAST(i AS INT), 1)) - 48) * 2 - 9
                             ELSE (ascii(substr(s, CAST(i AS INT), 1)) - 48) * 2 END
                   ELSE ascii(substr(s, CAST(i AS INT), 1)) - 48 END)) % 10) = 0
         )) AS n_luhn_valid
  FROM cands
)
SELECT doc_id,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_luhn_valid AS BIGINT) AS n_luhn_valid,
       (n_luhn_valid > 0) AS card_flag
FROM v ORDER BY doc_id
"""

PII_LUHN_SQL = _PII_LUHN_SQL_RAW.replace("@CARD_RE@", _CARD_CANDIDATE_RE)


# --------------------------------------- inverted-index build stats (r8)

INDEX_N_BUCKETS = 64


def inverted_index_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Serving-layout readout for an inverted index build: postings
    (term-hash → doc, tf) are sharded into ``INDEX_N_BUCKETS`` hash
    buckets — the physical unit a distributed BM25/keyword service
    scatters over — and per bucket the query reports term count, posting
    count, token mass, and the largest single posting list.  The max/avg
    posting skew across buckets is what decides whether the layout needs
    stop-term splitting before the index ships (one hot term = one hot
    shard = the p99 of every scatter-gather query).

    Scale shape: ONE corpus-sized shuffle — groupBy(term-hash, doc) with
    map-side combine collapses repeats before the exchange (8-byte keys,
    never term strings); everything above is bucket-grain.  The md5-prefix
    term hash is the oracle-parity trade documented at
    operators/dedup.md5_prefix_hash (xxhash64 in production; winnow/bloom
    precedent).  Complements bm25_topk (textstats), which SCORES on the
    fly — this is the materialization plan for the same postings.
    """
    return index_stats_from_postings(index_postings(df, text_col))


def index_postings(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus pass: the (h, doc_id, tf) posting table itself — also
    the staging unit of the streaming twin (streaming/index.py), where
    the staged state IS the materialized index."""
    from wurzel_spark.operators.dedup import md5_prefix_hash

    c = F.col(text_col)
    toks = common.parallelize(df).select(
        "doc_id", F.explode(TXT.words(c)).alias("term")
    )
    return (
        toks.select("doc_id", md5_prefix_hash(F.col("term")).alias("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def index_stats_from_postings(post: DataFrame) -> DataFrame:
    """The bucket-grain tail shared with the streaming twin."""
    per_term = post.groupBy("h").agg(
        F.count(F.lit(1)).alias("df_t"), F.sum("tf").alias("cf_t")
    )
    return (
        per_term.groupBy(F.pmod(F.col("h"), F.lit(INDEX_N_BUCKETS)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df_t").alias("n_postings"),
            F.sum("cf_t").alias("n_tokens"),
            F.max("df_t").alias("max_posting_len"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_postings").cast("long").alias("n_postings"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("max_posting_len").cast("long").alias("max_posting_len"),
        )
        .orderBy("bucket")
    )


def q_inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index_stats(table(spark, sf_dir, "documents"))


INVERTED_INDEX_SQL = rf"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')) AS term
  FROM documents
), post AS (
  SELECT CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h,
         doc_id, COUNT(*) AS tf
  FROM toks GROUP BY 1, 2
), per_term AS (
  SELECT h, COUNT(*) AS df_t, SUM(tf) AS cf_t FROM post GROUP BY h
)
SELECT CAST(h % {INDEX_N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(df_t) AS BIGINT) AS n_postings,
       CAST(SUM(cf_t) AS BIGINT) AS n_tokens,
       CAST(MAX(df_t) AS BIGINT) AS max_posting_len
FROM per_term GROUP BY 1 ORDER BY bucket
"""


# ----------------------------------------- exact AUC via histogram (r8)


def score_auc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """EXACT ROC-AUC of the cheap quality score against the Gopher keep
    verdict, per source — the single-number companion to
    ``score_calibration_bins`` (calibration says "are the probabilities
    honest", AUC says "does the score rank keepers above droppers at
    all"; both are needed before a cheap scorer may gate a corpus).

    The 100 TB shape: AUC is a rank statistic, but the score is an
    integer permille (0..1000), so the Mann-Whitney U collapses onto a
    ≤1001-row histogram per source — ONE corpus scan → grouped
    (source, q1000) counts → cumulative window over the metadata-sized
    histogram.  Ties use the standard ½ credit; everything is exact
    integers via U2 = 2·U:

        U2 = Σ_s [ 2·pos(s)·neg(<s) + pos(s)·neg(s) ]
        auc_permille = 1000·U2 div (2·n_pos·n_neg)

    Degenerate sources (no positives or no negatives) report NULL
    auc_permille rather than a fake 500.
    """
    return auc_from_hist(score_label_hist(df, text_col))


def auc_from_hist(hist: DataFrame) -> DataFrame:
    """Exact per-source AUC from the shared (source, q1000, pos, neg)
    histogram — cumulative window over ≤1001 rows per source."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("q1000")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # U-statistic arithmetic runs in decimal(38,0) Spark-side / HUGEINT
    # oracle-side (the house wide-integer convention): pos·neg_below can
    # pass 2^63 per ROW once a source holds ~10^10 docs per class, and
    # 1000·u2 / 2·n_pos·n_neg certainly does at the docstring's 100 TB
    # shape. u2 is PUBLISHED as DOUBLE — both engines round the same
    # exact integer to the same double (the max_norm2q precedent);
    # auc_permille stays an exact ≤1000 integer.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    scored = hist.select(
        "source",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below"),
    ).select(
        "source",
        "pos",
        "neg",
        (
            F.lit(2) * dec(F.col("pos")) * F.col("neg_below")
            + dec(F.col("pos")) * F.col("neg")
        ).alias("u2_part"),
    )
    agg = scored.groupBy("source").agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum("u2_part").cast("decimal(38,0)").alias("u2"),
    )
    return agg.select(
        "source",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.col("u2").cast("double").alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "div(u2 * 1000, 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            ),
        )
        .cast("long")
        .alias("auc_permille"),
    ).orderBy("source")


def q_score_auc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_auc_stats(table(spark, sf_dir, "documents"))


def _score_auc_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH {_GOPHER_CTE},
keepers AS (
  SELECT doc_id, {_GOPHER_KEEP_EXPR} AS gopher_keep FROM f
), per_doc AS (
  SELECT b.source,
         CASE WHEN len(ws) > 0
              THEN (1000 * len(list_filter(ws, w -> list_contains([{stoplist}], w)))) // len(ws)
              ELSE 0 END AS q1000,
         CASE WHEN k.gopher_keep THEN 1 ELSE 0 END AS keep
  FROM base b JOIN keepers k USING (doc_id)
), hist AS (
  SELECT source, q1000,
         CAST(SUM(keep) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(keep) AS BIGINT) AS neg
  FROM per_doc GROUP BY source, q1000
), cum AS (
  SELECT source, pos, neg,
         COALESCE(CAST(SUM(neg) OVER (
           PARTITION BY source ORDER BY q1000
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_below
  FROM hist
), agg AS (
  SELECT source,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         SUM(2 * CAST(pos AS HUGEINT) * neg_below
             + CAST(pos AS HUGEINT) * neg) AS u2
  FROM cum GROUP BY source
)
SELECT source, n_pos, n_neg, CAST(u2 AS DOUBLE) AS u2,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST((u2 * 1000) // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
            ELSE NULL END AS auc_permille
FROM agg ORDER BY source
"""


SCORE_AUC_SQL = _score_auc_sql()


# ------------------------------------------------- blocklist filtering

BLOCKLIST_TERMS = ("slow", "big", "drop", "stale")
BLOCKLIST_MAX_PERMILLE = 50  # gate: docs whose hit share exceeds 5%


def blocklist_hits(text_col, terms: tuple[str, ...] = BLOCKLIST_TERMS):
    """Row-local blocklist hit count over whitespace tokens (exact-match
    token filter, the LDNOOBW-style badwords gate every public-web
    pipeline runs). For a literal list this is a pure codegen array
    filter — no explode, no join, no shuffle; a production blocklist of
    10k+ terms switches to exploding tokens into a broadcast-hash join
    against the term table (same output contract)."""
    blk = F.array(*[F.lit(t) for t in terms])
    ws = TXT.words(F.col(text_col) if isinstance(text_col, str) else text_col)
    return F.size(F.filter(ws, lambda w: F.array_contains(blk, w)))


def blocklist_filter_stats(
    df: DataFrame,
    text_col: str = "text",
    terms: tuple[str, ...] = BLOCKLIST_TERMS,
    max_permille: int = BLOCKLIST_MAX_PERMILLE,
) -> DataFrame:
    """Per-source blocklist exposure: how many docs contain ANY listed
    term (``flagged_docs``), how many exceed the density gate
    (``gated_docs``, hits/tokens > max_permille — the filter that
    actually drops documents), total hits, and the corpus-level hit
    share in permille. The readout you audit before enabling a badwords
    filter: a source with high flagged share but low gated share is
    mostly incidental mentions, not spam.

    All-integer: the density gate compares ``hits·1000 > permille·tokens``
    (no float division); the one shuffle is the per-source aggregate
    with map-side combine. Split as partials + tail so the streaming twin
    (streaming/blocklist.py) stages the ADDITIVE per-source partials per
    micro-batch and shares the permille tail at drain."""
    return blocklist_from_partials(blocklist_source_partials(df, text_col, terms, max_permille))


def blocklist_source_partials(
    df: DataFrame,
    text_col: str = "text",
    terms: tuple[str, ...] = BLOCKLIST_TERMS,
    max_permille: int = BLOCKLIST_MAX_PERMILLE,
) -> DataFrame:
    """The additive per-source partials (every column a pure integer sum
    — batch-splittable by law); the streaming staging unit."""
    ws = TXT.words(F.col(text_col))
    per = df.select(
        "source",
        F.size(ws).alias("n_tokens"),
        blocklist_hits(text_col, terms).alias("n_hits"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_hits") > 0).cast("long")).alias("flagged_docs"),
        F.sum(
            (
                (F.col("n_tokens") > 0)
                & (F.col("n_hits") * 1000 > F.lit(max_permille) * F.col("n_tokens"))
            ).cast("long")
        ).alias("gated_docs"),
        F.sum("n_hits").alias("total_hits"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def blocklist_from_partials(partials: DataFrame) -> DataFrame:
    """The tail shared with the streaming drain: the corpus-level hit
    share derives from summed totals (never from averaged permilles)."""
    return partials.withColumn(
        "hit_permille",
        F.when(
            F.col("total_tokens") > 0,
            # integer floor-div, NOT double division: at 100 TB counts the
            # double numerator rounds above 2^53 and can disagree with the
            # oracle's exact `//` by one permille
            F.expr("div(1000 * total_hits, total_tokens)"),
        ),
    ).orderBy("source")


def q_blocklist_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return blocklist_filter_stats(table(spark, sf_dir, "documents"))


_BLK_IN = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)

BLOCKLIST_SQL = rf"""
WITH per AS (
  SELECT source,
         len(ws) AS n_tokens,
         len(list_filter(ws, w -> w IN ({_BLK_IN}))) AS n_hits
  FROM (
    SELECT source,
           list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
    FROM documents
  )
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       CAST(SUM(CASE WHEN n_tokens > 0
                      AND n_hits * 1000 > {BLOCKLIST_MAX_PERMILLE} * n_tokens
                     THEN 1 ELSE 0 END) AS BIGINT) AS gated_docs,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CASE WHEN SUM(n_tokens) > 0
            THEN CAST((SUM(n_hits) * 1000) // SUM(n_tokens) AS BIGINT)
            ELSE NULL END AS hit_permille
FROM per GROUP BY source ORDER BY source
"""


# ------------------------------------------------- l-diversity release

LDIV_MIN_LANGS = 3


def ldiversity_release(
    df: DataFrame,
    quasi_col: str = "source",
    sensitive_col: str = "lang",
    min_l: int = LDIV_MIN_LANGS,
) -> DataFrame:
    """Distinct l-diversity gate (Machanavajjhala et al. 2007) on top of
    the k-anonymity release: a quasi-identifier group may be published
    only if its SENSITIVE attribute takes at least ``l`` distinct values
    inside the group — k-anonymity alone still leaks when a group is
    homogeneous (every member shares the sensitive value). Failing
    groups coalesce into one ``__suppressed__`` bucket so totals
    reconcile, the [[kanon]] convention.

    Scale shape: one grouped aggregate over (quasi, sensitive) — the
    corpus shuffle — then two aggregates over GROUP-sized rows."""
    per = df.groupBy(quasi_col, sensitive_col).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )
    grp = per.groupBy(quasi_col).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_chars").alias("sum_chars"),
        F.count(F.lit(1)).alias("n_sensitive_values"),
    )
    relabeled = grp.select(
        F.when(
            F.col("n_sensitive_values") < min_l, F.lit("__suppressed__")
        )
        .otherwise(F.col(quasi_col))
        .alias(quasi_col),
        "n_docs",
        "sum_chars",
        "n_sensitive_values",
    )
    return (
        relabeled.groupBy(quasi_col)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_chars").alias("sum_chars"),
            F.min("n_sensitive_values").alias("min_sensitive_values"),
            F.count(F.lit(1)).alias("n_merged_groups"),
        )
        .orderBy(quasi_col)
    )


def q_ldiversity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ldiversity_release(table(spark, sf_dir, "documents"))


# ------------------------------------------------- t-closeness release

TCLOSE_MAX_PERMILLE = 400


def tcloseness_partials(
    df: DataFrame, quasi_col: str = "source", sensitive_col: str = "lang"
) -> DataFrame:
    """Per-(quasi, sensitive) ADDITIVE counts — the staged unit of the
    streaming twin (streaming/tcloseness.py). The whole t-closeness
    computation downstream of this one corpus-grain aggregate runs on
    group-sized rows, so the drain re-derives windows + gate exactly."""
    return df.groupBy(quasi_col, sensitive_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )


def tcloseness_from_partials(
    per: DataFrame,
    quasi_col: str = "source",
    sensitive_col: str = "lang",
    max_permille: int = TCLOSE_MAX_PERMILLE,
) -> DataFrame:
    """Window + gate tail over (quasi, sensitive) counts (shared with
    the streaming drain)."""
    from pyspark.sql import Window as W

    per = per.select(
        quasi_col,
        sensitive_col,
        "c",
        F.sum("c").over(W.partitionBy(quasi_col)).alias("n_g"),
        F.sum("c").over(W.partitionBy(sensitive_col)).alias("c_v"),
        F.sum("c").over(W.partitionBy()).alias("n_total"),
    )
    grp = per.groupBy(quasi_col).agg(
        F.first("n_g").alias("n_g"),
        F.first("n_total").alias("n_total"),
        F.sum(
            F.abs(F.col("c") * F.col("n_total") - F.col("c_v") * F.col("n_g"))
            - F.col("c_v") * F.col("n_g")
        ).alias("present_term"),
    )
    grp = grp.select(
        quasi_col,
        F.col("n_g").cast("long").alias("n_docs"),
        F.expr(
            "CAST(div(1000 * (n_total * n_g + present_term),"
            " 2 * n_total * n_g) AS BIGINT)"
        ).alias("tvd_permille"),
    )
    relabeled = grp.select(
        F.when(F.col("tvd_permille") > max_permille, F.lit("__suppressed__"))
        .otherwise(F.col(quasi_col))
        .alias(quasi_col),
        "n_docs",
        "tvd_permille",
    )
    return (
        relabeled.groupBy(quasi_col)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.max("tvd_permille").alias("max_tvd_permille"),
            F.count(F.lit(1)).alias("n_merged_groups"),
        )
        .orderBy(quasi_col)
    )


def tcloseness_release(
    df: DataFrame,
    quasi_col: str = "source",
    sensitive_col: str = "lang",
    max_permille: int = TCLOSE_MAX_PERMILLE,
) -> DataFrame:
    """t-closeness gate (Li, Li & Venkatasubramanian, ICDE 2007) — the
    third rung of the privacy ladder after [[kanon]] size and
    [[ldiversity]] distinctness: a quasi-identifier group may be
    published only if its sensitive-attribute DISTRIBUTION stays within
    distance t of the global one — l distinct values still leak when
    one value dominates (skewness attack). For a categorical sensitive
    attribute the EMD ground distance is uniform, so the distance is
    total-variation: tvd = ½·Σ_v |c_gv/n_g − c_v/N|.

    Exactness: denominators clear to integers —
    ``tvd·2·N·n_g = Σ_v |c_gv·N − c_v·n_g|`` where v ranges over ALL
    global values; values ABSENT from the group contribute c_v·n_g, and
    since Σ_v c_v = N the absent tail closes to
    ``N·n_g + Σ_{v∈g} (|c_gv·N − c_v·n_g| − c_v·n_g)`` — only PRESENT
    (quasi, sensitive) rows are ever materialized. Products reach N²
    (~10²⁴ at 100 TB row counts), so the sums run in decimal(38,0) /
    HUGEINT. Failing groups coalesce into one ``__suppressed__`` bucket
    so totals reconcile, the [[kanon]] convention.

    Scale shape: ONE corpus-grain grouped count over
    (quasi, sensitive); everything after runs on group-sized rows
    (three windows — group total, value total, grand total — then two
    aggregates). Output is |released groups| + 1 rows."""
    return tcloseness_from_partials(
        tcloseness_partials(df, quasi_col, sensitive_col),
        quasi_col,
        sensitive_col,
        max_permille,
    )


def q_tcloseness_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tcloseness_release(table(spark, sf_dir, "documents"))


TCLOSENESS_SQL = f"""
WITH per AS (
  SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS c
  FROM documents GROUP BY source, lang
), win AS (
  SELECT source, lang, c,
         SUM(c) OVER (PARTITION BY source) AS n_g,
         SUM(c) OVER (PARTITION BY lang) AS c_v,
         SUM(c) OVER () AS n_total
  FROM per
), grp AS (
  SELECT source,
         CAST(MIN(n_g) AS BIGINT) AS n_docs,
         CAST((1000 * (MIN(n_total) * MIN(n_g)
                       + SUM(ABS(c * n_total - c_v * n_g) - c_v * n_g)))
              // (2 * MIN(n_total) * MIN(n_g)) AS BIGINT) AS tvd_permille
  FROM win GROUP BY source
), relabeled AS (
  SELECT CASE WHEN tvd_permille > {TCLOSE_MAX_PERMILLE}
              THEN '__suppressed__' ELSE source END AS source,
         n_docs, tvd_permille
  FROM grp
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(tvd_permille) AS BIGINT) AS max_tvd_permille,
       COUNT(*) AS n_merged_groups
FROM relabeled GROUP BY source ORDER BY source
"""


LDIVERSITY_SQL = f"""
WITH per AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source, lang
), grp AS (
  SELECT source, SUM(n_docs) AS n_docs, SUM(sum_chars) AS sum_chars,
         COUNT(*) AS n_sensitive_values
  FROM per GROUP BY source
), relabeled AS (
  SELECT CASE WHEN n_sensitive_values < {LDIV_MIN_LANGS}
              THEN '__suppressed__' ELSE source END AS source,
         n_docs, sum_chars, n_sensitive_values
  FROM grp
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(sum_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(n_sensitive_values) AS BIGINT) AS min_sensitive_values,
       COUNT(*) AS n_merged_groups
FROM relabeled GROUP BY source ORDER BY source
"""


# --------------------------------------------- CCNet-style LM perplexity

CCNET_TRAIN_MOD = 4  # doc_id % 4 != 0 → reference (train) slice, 75%
_CCNET_SCALE = float(1 << 20)  # 2^20 fixed-point, the PMI/BM25 convention


def ccnet_lm_perplexity(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality filter (Wenzek et al. 2020):
    train a per-LANGUAGE add-one-smoothed bigram LM on a REFERENCE slice
    of the corpus (deterministic ``doc_id % 4 != 0``, standing in for
    CCNet's Wikipedia LM), then score EVERY document against its own
    language's model. Per doc: bigram count, OOV bigram count (unseen in
    train — held-out docs exercise genuine backoff), and the negative
    log-likelihood ``nll = -Σ m·⌊ln((c12+1)/(c1+V))·2^20⌋`` plus its
    per-bigram mean — the perplexity proxy CCNet buckets into
    head/middle/tail quality bands. Contract: every document WITH AT
    LEAST ONE BIGRAM gets a row; empty and one-token docs have no
    bigram likelihood and are absent by definition — a pipeline gating
    on this score must left-join and treat the missing rows as their
    own (junk) band.

    Differs from [[bigram_lm_score]] (self-trained pooled ratio, one
    final float): this is a real train/score split with per-language
    models and a true log-likelihood. Exactness: each bigram's surprisal
    is quantized to int64 AT THE INSTANCE (one ln per distinct
    (doc, bigram), identical IEEE division both engines — the PMI
    convention), so the per-doc sum is an integer sum: row-order and
    partitioning independent by construction.

    Scale shape: language is FOLDED INTO the md5-prefix gram hashes
    (dedup.md5_prefix_hash; xxhash64 in production), so every exchange
    carries 8-byte keys, never word strings: (1) the doc-grain bigram
    pre-aggregate (multiplicity m collapses repeats before the LM join),
    (2) the train-slice bigram count, (3) the (h1, h2) hash join. The
    prefix table c1 and vocab size V derive from the checkpointed c12
    table (group-sized, not corpus-sized); V joins back as a ≤n_langs
    broadcast.

    Split as doc-grain bigram builder + scoring tail so the streaming
    twin (streaming/ccnet.py) can stage the bigram table per micro-batch
    (the staged state IS the scoring input, the inverted-index-twin
    pattern) and share the train/score tail at drain."""
    return ccnet_scores_from_bigrams(ccnet_doc_bigrams(df, text_col))


def ccnet_doc_bigrams(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus pass: doc-grain (doc, source, lang, h1, h2, m) bigram
    multiplicities with language folded into the md5-prefix hashes —
    also the staging unit of the streaming twin."""
    from wurzel_spark.operators.dedup import md5_prefix_hash

    ws = TXT.words(F.col(text_col))
    toks = (
        common.parallelize(df)
        .select("doc_id", "source", "lang", ws.alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    bg = toks.select(
        "doc_id",
        "source",
        "lang",
        F.explode(TXT.bigrams(F.col("ws"))).alias("b"),
    ).select(
        "doc_id",
        "source",
        "lang",
        # lang coalesces to a \x02 sentinel inside the hash: concat_ws
        # SKIPS a NULL (Spark) while '||' PROPAGATES it (the oracle), so
        # an un-tagged document would otherwise hash differently per
        # engine; the sentinel makes both sides position-faithful
        md5_prefix_hash(
            F.concat_ws(
                "\x1f", F.coalesce(F.col("lang"), F.lit("\x02")), F.col("b.w1")
            )
        ).alias("h1"),
        md5_prefix_hash(
            F.concat_ws(
                "\x1f",
                F.coalesce(F.col("lang"), F.lit("\x02")),
                F.col("b.w1"),
                F.col("b.w2"),
            )
        ).alias("h2"),
    )
    return bg.groupBy("doc_id", "source", "lang", "h1", "h2").agg(
        F.count(F.lit(1)).alias("m")
    )


def ccnet_scores_from_bigrams(sc: DataFrame) -> DataFrame:
    """The train/score tail shared with the streaming drain.

    ONE corpus tokenize+hash pass: the doc-grain pre-aggregate's
    exchange is shared by the LM join AND the train-count branch
    (the train counts DERIVE from it — sum of multiplicities ==
    count of instances), and the vocab-sized c12 aggregate above it
    feeds three subtrees (the join, c1, V). All four consumers sit in
    ONE plan, so Catalyst's ReuseExchange collapses them to a single
    computed shuffle each — an eager checkpoint here would instead
    MATERIALIZE the corpus-grain table (measured 2× slower at the 10×
    probe scale than letting the exchanges be reused)."""
    c12 = (
        sc.filter(F.col("doc_id") % CCNET_TRAIN_MOD != 0)
        .groupBy("lang", "h1", "h2")
        .agg(F.sum("m").alias("c12"))
    )
    c1 = c12.groupBy("h1").agg(F.sum("c12").alias("c1"))
    vt = c12.groupBy("lang").agg(F.countDistinct("h1").alias("v"))
    c12v = F.coalesce(F.col("c12"), F.lit(0))
    c1v = F.coalesce(F.col("c1"), F.lit(0))
    vv = F.coalesce(F.col("v"), F.lit(1))  # lang absent from train: V=1
    q = F.floor(
        F.log((c12v + 1).cast("double") / (c1v + vv).cast("double"))
        * F.lit(_CCNET_SCALE)
    ).cast("long")
    scored = (
        sc.join(c12.select("h1", "h2", "c12"), ["h1", "h2"], "left")
        .join(c1, "h1", "left")
        .join(F.broadcast(vt), "lang", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            "m",
            c12v.alias("c12v"),
            q.alias("qv"),
        )
    )
    return (
        scored.groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.sum(F.when(F.col("c12v") == 0, F.col("m")).otherwise(F.lit(0))).alias(
                "oov_bigrams"
            ),
            (-F.sum(F.col("m") * F.col("qv"))).alias("nll_q20"),
        )
        .withColumn("avg_nll_q20", F.expr("nll_q20 div n_bigrams"))
        .orderBy("doc_id")
    )


def q_ccnet_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_lm_perplexity(table(spark, sf_dir, "documents"))


CCNET_LM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), bg AS (
  SELECT doc_id, source, lang,
         CAST(concat('0x', substr(md5(COALESCE(lang, chr(2)) || chr(31) || ws[i]), 1, 15)) AS BIGINT) AS h1,
         CAST(concat('0x', substr(md5(COALESCE(lang, chr(2)) || chr(31) || ws[i] || chr(31) || ws[i + 1]), 1, 15)) AS BIGINT) AS h2
  FROM toks, UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
), sc AS (
  SELECT doc_id, source, lang, h1, h2, COUNT(*) AS m
  FROM bg GROUP BY doc_id, source, lang, h1, h2
), c12 AS (
  SELECT lang, h1, h2, COUNT(*) AS c12
  FROM bg WHERE doc_id % {CCNET_TRAIN_MOD} != 0 GROUP BY lang, h1, h2
), c1 AS (
  SELECT h1, SUM(c12) AS c1 FROM c12 GROUP BY h1
), vt AS (
  SELECT lang, COUNT(DISTINCT h1) AS v FROM c12 GROUP BY lang
), scored AS (
  SELECT sc.doc_id, sc.source, sc.lang, sc.m,
         COALESCE(c12.c12, 0) AS c12v,
         CAST(FLOOR(ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                       / CAST(COALESCE(c1.c1, 0) + COALESCE(vt.v, 1) AS DOUBLE))
                    * {_CCNET_SCALE!r}) AS BIGINT) AS qv
  FROM sc LEFT JOIN c12 ON sc.h1 = c12.h1 AND sc.h2 = c12.h2
          LEFT JOIN c1 ON sc.h1 = c1.h1
          LEFT JOIN vt ON sc.lang = vt.lang
)
SELECT doc_id, source, lang,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN c12v = 0 THEN m ELSE 0 END) AS BIGINT) AS oov_bigrams,
       CAST(-SUM(m * qv) AS BIGINT) AS nll_q20,
       CAST((-SUM(m * qv)) // SUM(m) AS BIGINT) AS avg_nll_q20
FROM scored GROUP BY doc_id, source, lang ORDER BY doc_id
"""


# --------------------------------------------- filter agreement matrix

FILTER_AGREE_Q1000 = 100  # cheap-score gate: stopword density >= 10%


def filter_agreement_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Do the independent cheap quality gates AGREE?  Per source, the
    pairwise agreement between three row-local keep verdicts — the
    Gopher rule battery (``g``), the blocklist density gate (``b``,
    NOT gated), and the stopword-density score gate (``q``,
    q1000 ≥ FILTER_AGREE_Q1000) — plus unanimous keep/drop counts.
    The diagnostic you read before composing gates into a funnel: two
    filters that agree at 950‰ are near-redundant (drop the slow one);
    a pair near 500‰ measures something different and both stay. The
    same readout FineWeb's ablations tabulate before stacking filters.

    Every verdict reuses the SHARED predicate definitions
    (_gopher_flag_exprs, blocklist_hits, the sweep's q1000) — the C4
    drift lesson: stats and the gates they describe can never diverge.
    All counts exact integers; permilles are floor-div.

    Scale shape: ONE corpus scan, all three verdicts in one row-local
    select, one n_sources-row grouped aggregate. No joins, no windows."""
    c = F.col(text_col)
    flags, n_words = _gopher_flag_exprs(c)
    g = _gopher_keep(flags)
    n_hits = blocklist_hits(text_col)
    b = ~(
        (n_words > 0)
        & (n_hits * 1000 > F.lit(BLOCKLIST_MAX_PERMILLE) * n_words)
    )
    stop_hits = TXT.marker_words_count(c, STOPWORDS)
    per = df.select(
        "source",
        g.alias("g"),
        b.alias("b"),
        stop_hits.cast("long").alias("__sh"),
        n_words.cast("long").alias("__nw"),
    ).select(
        "source",
        "g",
        "b",
        (
            F.when(F.col("__nw") > 0, F.expr("div(1000 * __sh, __nw)"))
            .otherwise(F.lit(0))
            >= FILTER_AGREE_Q1000
        ).alias("q"),
    )
    i = lambda col: col.cast("long")  # noqa: E731
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(i(F.col("g"))).alias("keep_gopher"),
        F.sum(i(F.col("b"))).alias("keep_blocklist"),
        F.sum(i(F.col("q"))).alias("keep_quality"),
        F.sum(i(F.col("g") == F.col("b"))).alias("agree_gb"),
        F.sum(i(F.col("g") == F.col("q"))).alias("agree_gq"),
        F.sum(i(F.col("b") == F.col("q"))).alias("agree_bq"),
        F.sum(i(F.col("g") & F.col("b") & F.col("q"))).alias("unanimous_keep"),
        F.sum(i(~F.col("g") & ~F.col("b") & ~F.col("q"))).alias("unanimous_drop"),
    )
    return agg.select(
        "*",
        F.expr("div(1000 * agree_gb, n_docs)").alias("agree_gb_permille"),
        F.expr("div(1000 * agree_gq, n_docs)").alias("agree_gq_permille"),
        F.expr("div(1000 * agree_bq, n_docs)").alias("agree_bq_permille"),
    ).orderBy("source")


def q_filter_agreement_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filter_agreement_stats(table(spark, sf_dir, "documents"))


_STOP_IN = ", ".join(f"'{m}'" for m in STOPWORDS)

FILTER_AGREEMENT_SQL = rf"""
WITH {_GOPHER_CTE}, verdicts AS (
  SELECT base.source,
         {_GOPHER_KEEP_EXPR} AS g,
         NOT (f.n_words > 0
              AND len(list_filter(base.ws, w -> w IN ({_BLK_IN}))) * 1000
                  > {BLOCKLIST_MAX_PERMILLE} * f.n_words) AS b,
         (CASE WHEN f.n_words > 0
               THEN (1000 * len(list_filter(base.ws, w -> list_contains([{_STOP_IN}], w)))) // f.n_words
               ELSE 0 END) >= {FILTER_AGREE_Q1000} AS q
  FROM f JOIN base USING (doc_id)
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS keep_gopher,
       CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS keep_blocklist,
       CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS keep_quality,
       CAST(SUM(CASE WHEN g = b THEN 1 ELSE 0 END) AS BIGINT) AS agree_gb,
       CAST(SUM(CASE WHEN g = q THEN 1 ELSE 0 END) AS BIGINT) AS agree_gq,
       CAST(SUM(CASE WHEN b = q THEN 1 ELSE 0 END) AS BIGINT) AS agree_bq,
       CAST(SUM(CASE WHEN g AND b AND q THEN 1 ELSE 0 END) AS BIGINT) AS unanimous_keep,
       CAST(SUM(CASE WHEN NOT g AND NOT b AND NOT q THEN 1 ELSE 0 END) AS BIGINT) AS unanimous_drop,
       CAST((1000 * SUM(CASE WHEN g = b THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS agree_gb_permille,
       CAST((1000 * SUM(CASE WHEN g = q THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS agree_gq_permille,
       CAST((1000 * SUM(CASE WHEN b = q THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS agree_bq_permille
FROM verdicts GROUP BY source ORDER BY source
"""


# ------------------------------------------------- corpus checksum

_CHK_MOD = 1 << 61  # Mersenne-adjacent power bound: sums stay in int64 range


def corpus_checksum(
    df: DataFrame, text_col: str = "text", hasher: str = "md5"
) -> DataFrame:
    """Order-independent corpus integrity checksum, per source: the sum
    (mod 2^61) of each row's md5-prefix hash over (doc_id, lang, text),
    plus row count and char mass. The check you run after migrating /
    re-encoding / re-partitioning a 100 TB corpus between engines or
    formats: equal checksums ⇒ equal row multisets, regardless of row
    order, file layout, or partitioning — a follow-the-data guarantee
    no row count alone gives. Addition mod a constant is commutative
    and associative, so the aggregate is partitioning-independent by
    law and cross-engine exact (HUGEINT oracle-side for the sum).

    Scale shape: one row-local hash, one per-source aggregate with
    map-side combine. The md5-for-oracle trade is the winnow/bloom
    precedent; production uses xxhash64 via ``hasher=``."""
    from wurzel_spark.operators.dedup import md5_prefix_hash

    # NULL fields coalesce to a \x02 sentinel BEFORE concatenation: Spark's
    # concat_ws silently skips NULLs (so (NULL,'a') and ('a',NULL) would
    # collide — invisible to an integrity check) while SQL '||' propagates
    # NULL (the row would vanish from the oracle SUM entirely). With the
    # sentinel both engines hash every row, position-faithfully.
    sent = F.lit("\x02")
    row = F.concat_ws(
        "\x1f",
        F.coalesce(F.col("doc_id").cast("string"), sent),
        F.coalesce(F.col("lang"), sent),
        F.coalesce(F.col(text_col), sent),
    )
    if hasher == "md5":
        h = md5_prefix_hash(row)
    else:  # the checksum only needs a stable non-negative 61-bit summand
        h = F.pmod(F.xxhash64(row), F.lit(_CHK_MOD))
    return (
        df.select("source", h.alias("h"), F.col("n_chars"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.expr(f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {_CHK_MOD} AS BIGINT)").alias(
                "checksum"
            ),
        )
        .orderBy("source")
    )


def q_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_checksum(table(spark, sf_dir, "documents"))


CORPUS_CHECKSUM_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(CAST(concat('0x', substr(md5(
           COALESCE(CAST(doc_id AS VARCHAR), chr(2)) || chr(31)
           || COALESCE(lang, chr(2)) || chr(31)
           || COALESCE(text, chr(2))), 1, 15)) AS BIGINT) AS HUGEINT))
         % {_CHK_MOD} AS BIGINT) AS checksum
FROM documents GROUP BY source ORDER BY source
"""


# ------------------------------------------- character-class histogram

def charclass_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source character-class composition: counts of letters,
    digits, whitespace, punctuation/other, and the uppercase share of
    letters — permille columns over the total char mass. The pre-
    tokenizer diagnostic that catches OCR garbage (punct share spikes),
    ALL-CAPS boilerplate (upper permille), and numeric-table dumps
    (digit share) before they skew a tokenizer or quality model.

    Exactness: class counts are regexp-filter lengths — pure integers —
    and the class partition is PROVABLY total: other = len − letters −
    digits − whitespace, so the permilles always sum within rounding.
    Scale shape: row-local regexp counts, one per-source aggregate."""
    c = F.col(text_col)
    n_all = F.length(c)
    n_letters = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_upper = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    n_digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    # explicit whitespace class, NOT \S: Java's \s includes vertical tab
    # \x0B while RE2's does not, so \S would diverge between engines on
    # exactly the OCR/table-dump inputs this diagnostic targets
    n_space = F.length(F.regexp_replace(c, "[^ \\t\\n\\x0B\\f\\r]", ""))
    per = df.select(
        "source",
        n_all.alias("n_all"),
        n_letters.alias("n_letters"),
        n_upper.alias("n_upper"),
        n_digits.alias("n_digits"),
        n_space.alias("n_space"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_all").alias("n_chars"),
        F.sum("n_letters").alias("n_letters"),
        F.sum("n_upper").alias("n_upper"),
        F.sum("n_digits").alias("n_digits"),
        F.sum("n_space").alias("n_space"),
    )
    pm = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, F.expr(f"div(1000 * {num}, {den})")
    ).otherwise(F.lit(0))
    return agg.select(
        "source",
        "n_docs",
        "n_chars",
        (F.col("n_chars") - F.col("n_letters") - F.col("n_digits") - F.col("n_space")).alias("n_other"),
        pm("n_letters", "n_chars").alias("letter_permille"),
        pm("n_digits", "n_chars").alias("digit_permille"),
        pm("n_space", "n_chars").alias("space_permille"),
        pm("n_upper", "n_letters").alias("upper_permille"),
    ).orderBy("source")


def q_charclass_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return charclass_stats(table(spark, sf_dir, "documents"))


CHARCLASS_SQL = r"""
WITH per AS (
  SELECT source,
         length(text) AS n_all,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_letters,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
         length(regexp_replace(text, '[^ \t\n\x0B\f\r]', '', 'g')) AS n_space
  FROM documents
), agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_all) AS BIGINT) AS n_chars,
         CAST(SUM(n_letters) AS BIGINT) AS n_letters,
         CAST(SUM(n_upper) AS BIGINT) AS n_upper,
         CAST(SUM(n_digits) AS BIGINT) AS n_digits,
         CAST(SUM(n_space) AS BIGINT) AS n_space
  FROM per GROUP BY source
)
SELECT source, n_docs, n_chars,
       n_chars - n_letters - n_digits - n_space AS n_other,
       CASE WHEN n_chars > 0 THEN (1000 * n_letters) // n_chars ELSE 0 END AS letter_permille,
       CASE WHEN n_chars > 0 THEN (1000 * n_digits) // n_chars ELSE 0 END AS digit_permille,
       CASE WHEN n_chars > 0 THEN (1000 * n_space) // n_chars ELSE 0 END AS space_permille,
       CASE WHEN n_letters > 0 THEN (1000 * n_upper) // n_letters ELSE 0 END AS upper_permille
FROM agg ORDER BY source
"""


# ------------------------------------------------ unicode normalization

# Invisible / zero-width characters removed outright: ZWSP, ZWNJ, ZWJ,
# word joiner, BOM/ZWNBSP, soft hyphen. The classic crawl-ingest
# contaminants — they split tokens invisibly and leak into BPE merges.
UNICODE_ZW = "​‌‍⁠﻿­"
# C0 control characters removed outright (NUL..BS, SO..US, DEL).
# \t \n \r stay (real whitespace); \x0B \x0C are WHITESPACE per the
# charclass_stats adjudication, so they map to space instead.
UNICODE_CTRL = "".join(
    chr(c) for c in (*range(0x00, 0x09), *range(0x0E, 0x20), 0x7F)
)
# Exotic spaces mapped to ASCII space: NBSP, VT, FF, ideographic space.
UNICODE_WSMAP = " \x0b\x0c　"
# Fullwidth ASCII (U+FF01..U+FF5E) folded to its ASCII twin — the CJK
# copy-paste artifact that hides `１２３` from every numeric regex.
UNICODE_FW_FROM = "".join(chr(c) for c in range(0xFF01, 0xFF5F))
UNICODE_FW_TO = "".join(chr(c) for c in range(0x21, 0x7F))


def _unicode_clean_cols(text_col: str = "text"):
    """Shared per-doc clean + counts (stats and mutation MUST derive from
    the same expressions — the C4 drift lesson, see _gopher_keep)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    n_zw = F.length(c) - F.length(F.translate(c, UNICODE_ZW, ""))
    n_ctrl = F.length(c) - F.length(F.translate(c, UNICODE_CTRL, ""))
    n_ws = F.length(c) - F.length(F.translate(c, UNICODE_WSMAP, ""))
    n_fw = F.length(c) - F.length(F.translate(c, UNICODE_FW_FROM, ""))
    cleaned = F.translate(
        F.translate(
            F.translate(c, UNICODE_FW_FROM, UNICODE_FW_TO),
            UNICODE_WSMAP,
            "    ",
        ),
        UNICODE_ZW + UNICODE_CTRL,
        "",
    )
    return cleaned, n_zw, n_ctrl, n_ws, n_fw


def unicode_clean_docs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode ingest normalization — the mutation: strip zero-width and
    control characters, map exotic spaces to ASCII space, fold fullwidth
    ASCII to its ASCII twin. The row-local pre-tokenizer scrub every
    crawl pipeline runs before anything downstream sees the text (C4 /
    ccnet do heavier versions; this is the deterministic, engine-exact
    core). Pure translate() chains — SQL-standard semantics in both
    engines (chars beyond the `to` string are deleted), no regex, no
    UDF, fully codegen'd.

    Scale shape: 1:1 row-local projection, zero shuffles."""
    cleaned, n_zw, n_ctrl, n_ws, n_fw = _unicode_clean_cols(text_col)
    return df.select(
        "doc_id",
        "source",
        cleaned.alias("clean_text"),
        F.length(cleaned).alias("n_chars_clean"),
        (n_zw + n_ctrl).alias("n_removed"),
        (n_ws + n_fw).alias("n_mapped"),
    ).orderBy("doc_id")


def unicode_clean_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source audit of :func:`unicode_clean_docs`: how much invisible
    junk does each source carry — zero-width chars, stray C0 controls,
    exotic spaces, fullwidth ASCII — counts, affected-doc counts, and the
    contaminated-char permille. The source-triage readout that says
    "this crawl slice needs the scrub / this one is clean" before paying
    a full rewrite of 100 TB.

    Exactness: every count is a length difference of translate() —
    pure integers, identical semantics both engines. Scale shape:
    row-local counts + one per-source aggregate; the stats NEVER
    materialize the cleaned text (translate for counting is cheaper
    than carrying the rewritten column through the shuffle)."""
    return unicode_stats_from_partials(unicode_stats_partials(df, text_col))


def unicode_stats_partials(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source ADDITIVE partials (every column sums across batches) —
    the staged unit of the streaming twin (streaming/unicode.py)."""
    _, n_zw, n_ctrl, n_ws, n_fw = _unicode_clean_cols(text_col)
    c = F.coalesce(F.col(text_col), F.lit(""))
    per = df.select(
        "source",
        F.length(c).alias("n_all"),
        n_zw.alias("n_zw"),
        n_ctrl.alias("n_ctrl"),
        n_ws.alias("n_ws"),
        n_fw.alias("n_fw"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                (F.col("n_zw") + F.col("n_ctrl") + F.col("n_ws") + F.col("n_fw")) > 0,
                1,
            ).otherwise(0)
        ).alias("n_docs_affected"),
        F.sum("n_all").alias("n_chars"),
        F.sum("n_zw").alias("n_zero_width"),
        F.sum("n_ctrl").alias("n_control"),
        F.sum("n_ws").alias("n_space_mapped"),
        F.sum("n_fw").alias("n_fullwidth"),
    )


def unicode_stats_from_partials(agg: DataFrame) -> DataFrame:
    """Permille tail over per-source partials (shared with the drain)."""
    return agg.withColumn(
        "n_dirty",
        F.col("n_zero_width")
        + F.col("n_control")
        + F.col("n_space_mapped")
        + F.col("n_fullwidth"),
    ).select(
        "source",
        "n_docs",
        "n_docs_affected",
        "n_chars",
        "n_zero_width",
        "n_control",
        "n_space_mapped",
        "n_fullwidth",
        F.when(F.col("n_chars") > 0, F.expr("div(1000 * n_dirty, n_chars)"))
        .otherwise(F.lit(0))
        .alias("dirty_permille"),
    ).orderBy("source")


def q_unicode_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unicode_clean_docs(table(spark, sf_dir, "documents"))


def q_unicode_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unicode_clean_stats(table(spark, sf_dir, "documents"))


def _sql_chars(s: str) -> str:
    """Render a constant char set as a DuckDB string expression. Control
    characters can't sit inside a SQL literal (NUL truncates the query),
    so any char < 0x20 or == 0x7F goes through chr(); printable runs stay
    literal with '' quote-escaping."""
    parts: list[str] = []
    run = ""
    for ch in s:
        if ord(ch) < 0x20 or ord(ch) == 0x7F:
            if run:
                parts.append("'" + run.replace("'", "''") + "'")
                run = ""
            parts.append(f"chr({ord(ch)})")
        else:
            run += ch
    if run:
        parts.append("'" + run.replace("'", "''") + "'")
    return "(" + " || ".join(parts) + ")" if len(parts) > 1 else parts[0]


_ZW_SQL = _sql_chars(UNICODE_ZW)
_CTRL_SQL = _sql_chars(UNICODE_CTRL)
_WSMAP_SQL = _sql_chars(UNICODE_WSMAP)
_FW_FROM_SQL = _sql_chars(UNICODE_FW_FROM)
_FW_TO_SQL = _sql_chars(UNICODE_FW_TO)

_UNICODE_PER_SQL = f"""
  SELECT doc_id, source,
         length(t) AS n_all,
         length(t) - length(translate(t, {_ZW_SQL}, '')) AS n_zw,
         length(t) - length(translate(t, {_CTRL_SQL}, '')) AS n_ctrl,
         length(t) - length(translate(t, {_WSMAP_SQL}, '')) AS n_ws,
         length(t) - length(translate(t, {_FW_FROM_SQL}, '')) AS n_fw,
         translate(translate(translate(t, {_FW_FROM_SQL}, {_FW_TO_SQL}),
                             {_WSMAP_SQL}, '    '),
                   {_ZW_SQL} || {_CTRL_SQL}, '') AS clean_text
  FROM (SELECT doc_id, source, COALESCE(text, '') AS t FROM documents)
"""

UNICODE_CLEAN_DOCS_SQL = f"""
WITH per AS ({_UNICODE_PER_SQL})
SELECT doc_id, source, clean_text,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
       CAST(n_zw + n_ctrl AS BIGINT) AS n_removed,
       CAST(n_ws + n_fw AS BIGINT) AS n_mapped
FROM per ORDER BY doc_id
"""

UNICODE_CLEAN_STATS_SQL = f"""
WITH per AS ({_UNICODE_PER_SQL}),
agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN n_zw + n_ctrl + n_ws + n_fw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_affected,
         CAST(SUM(n_all) AS BIGINT) AS n_chars,
         CAST(SUM(n_zw) AS BIGINT) AS n_zero_width,
         CAST(SUM(n_ctrl) AS BIGINT) AS n_control,
         CAST(SUM(n_ws) AS BIGINT) AS n_space_mapped,
         CAST(SUM(n_fw) AS BIGINT) AS n_fullwidth
  FROM per GROUP BY source
)
SELECT source, n_docs, n_docs_affected, n_chars,
       n_zero_width, n_control, n_space_mapped, n_fullwidth,
       CASE WHEN n_chars > 0
            THEN (1000 * (n_zero_width + n_control + n_space_mapped + n_fullwidth)) // n_chars
            ELSE 0 END AS dirty_permille
FROM agg ORDER BY source
"""


# --------------------------------------------- token-budget water-filling

WATERFILL_BUDGET_NUM = 2  # budget = floor(2 * total available tokens / 3)
WATERFILL_BUDGET_DEN = 3  # — big enough that heavy-weight sources hit their caps


def token_budget_waterfill(
    df: DataFrame,
    rates_permille: dict[str, int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Water-filling token allocation: distribute a training-token budget
    across sources PROPORTIONALLY TO MIXTURE WEIGHTS subject to each
    source's availability cap — the allocator that answers "source X only
    has 2B tokens but its weight asks for 9B; who absorbs the surplus?".
    [[data_budget_plan]] diagnoses the epochs a fixed mixture implies;
    this op REPAIRS the mixture: capped sources keep everything they
    have, the freed budget re-spreads over uncapped sources at one shared
    water level λ (alloc_i = min(avail_i, λ·w_i), Σ alloc = budget) — the
    continuous analog of the epoch-capped reallocation in
    data-constrained scaling work (Muennighoff et al. 2023).

    Exact integer algorithm, no iteration: sort sources by the
    saturation ratio r_i = avail_i/w_i (sort key floor(avail·10^9/w) is
    COLLISION-FREE for distinct ratios: permille weights ≤ 1000 make
    distinct ratios differ by ≥ 10⁻⁶ > 10³/10⁹). A source saturates iff
    r_i ≤ the water level computed as if it and everything after stayed
    unsaturated — prefix-monotone in r-order (saturating a source with
    r > λ only lowers λ), so the flag is one exclusive-prefix-sum
    comparison a_i·W_rest ≤ (budget−A_prev)·w_i in decimal(38,0)/HUGEINT
    (no division at all until the final per-source alloc floor-div).
    The budget is self-normalizing — floor({WATERFILL_BUDGET_NUM}·total_available/
    {WATERFILL_BUDGET_DEN}) — so the query exercises both regimes
    at every scale.

    Scale shape: ONE corpus scan (explode-free token count + grouped
    agg); everything after the first aggregate runs on |sources| rows —
    the sort, prefix sums, and flag algebra are metadata-sized.
    """
    rates = rates_permille or MIXTURE_PERMILLE
    per = (
        df.select("source", TXT.word_count(F.col(text_col)).alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").alias("avail"))
    )
    return waterfill_from_avail(per, rates)


def waterfill_from_avail(
    per: DataFrame, rates_permille: dict[str, int] | None = None
) -> DataFrame:
    """The metadata-sized water-filling tail over per-source (source,
    avail) rows — shared with the streaming drain (streaming/waterfill.py),
    where avail arrives as summed per-batch additive partials."""
    from pyspark.sql import Window as W

    rates = rates_permille or MIXTURE_PERMILLE
    rate_expr = None
    for src, permille in rates.items():
        cond = F.col("source") == src
        rate_expr = (
            F.when(cond, permille)
            if rate_expr is None
            else rate_expr.when(cond, permille)
        )
    rate_expr = rate_expr.otherwise(F.lit(0))
    per = per.withColumn("w", rate_expr.cast("long"))
    # totals over the positive-weight pool (zero-weight sources are shown
    # but get alloc 0 and contribute nothing to the budget)
    tot = per.filter(F.col("w") > 0).agg(
        F.sum("avail").alias("total_avail"), F.sum("w").alias("total_w")
    )
    base = per.crossJoin(F.broadcast(tot)).withColumn(
        "budget",
        F.expr(
            f"CAST(div(total_avail * {WATERFILL_BUDGET_NUM},"
            f" {WATERFILL_BUDGET_DEN}) AS DECIMAL(38,0))"
        ),
    )
    # exact ratio sort key (decimal floor-division via the pmod identity —
    # div() would wrap past 2^63, see priority_scores)
    _n = "CAST(avail AS DECIMAL(38,0)) * 1000000000"
    key = F.expr(f"CAST(({_n} - pmod({_n}, w)) / w AS DECIMAL(38,0))")
    pos = base.filter(F.col("w") > 0).withColumn("rkey", key)
    ws = W.orderBy("rkey", "source")
    cum_a = F.coalesce(
        F.sum("avail").over(ws.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("decimal(38,0)")
    cum_w = F.coalesce(
        F.sum("w").over(ws.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
    ).cast("decimal(38,0)")
    flagged = pos.withColumn(
        "saturated",
        F.col("avail").cast("decimal(38,0)")
        * (F.col("total_w").cast("decimal(38,0)") - cum_w)
        <= (F.col("budget") - cum_a) * F.col("w").cast("decimal(38,0)"),
    )
    sat = flagged.agg(
        F.sum(F.when(F.col("saturated"), F.col("avail")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a_sat"),
        F.sum(F.when(F.col("saturated"), F.col("w")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("w_sat"),
    )
    out = flagged.crossJoin(F.broadcast(sat)).withColumn(
        "w_free", F.col("total_w").cast("decimal(38,0)") - F.col("w_sat")
    )
    alloc = (
        F.when(F.col("saturated") | (F.col("w_free") == 0), F.col("avail"))
        .otherwise(
            F.expr("div((budget - a_sat) * w, w_free)")
        )
        .cast("long")
    )
    pos_out = out.select(
        "source",
        F.col("w").alias("weight_permille"),
        F.col("avail").cast("long").alias("avail_tokens"),
        alloc.alias("alloc_tokens"),
        "saturated",
        F.col("budget").cast("long").alias("budget_tokens"),
    )
    zero_out = base.filter(F.col("w") <= 0).select(
        "source",
        F.col("w").alias("weight_permille"),
        F.col("avail").cast("long").alias("avail_tokens"),
        F.lit(0).cast("long").alias("alloc_tokens"),
        F.lit(False).alias("saturated"),
        F.col("budget").cast("long").alias("budget_tokens"),
    )
    both = pos_out.unionByName(zero_out)
    return both.select(
        "source",
        "weight_permille",
        "avail_tokens",
        "alloc_tokens",
        "saturated",
        F.when(
            F.col("avail_tokens") > 0,
            F.expr("div(1000 * alloc_tokens, avail_tokens)"),
        )
        .otherwise(F.lit(0))
        .alias("fill_permille"),
        "budget_tokens",
    ).orderBy("source")


def q_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_waterfill(table(spark, sf_dir, "documents"))


def _waterfill_sql() -> str:
    case = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIXTURE_PERMILLE.items()
    )
    return rf"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x != ''))) AS HUGEINT) AS avail,
         CAST(CASE {case} ELSE 0 END AS BIGINT) AS w
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(avail) AS HUGEINT) AS total_avail,
         CAST(SUM(w) AS HUGEINT) AS total_w,
         (CAST(SUM(avail) AS HUGEINT) * {WATERFILL_BUDGET_NUM}) // {WATERFILL_BUDGET_DEN} AS budget
  FROM per WHERE w > 0
), ranked AS (
  SELECT p.source, p.avail, p.w, t.total_w, t.budget,
         (p.avail * 1000000000) // p.w AS rkey,
         COALESCE(SUM(p.avail) OVER (ORDER BY (p.avail * 1000000000) // p.w, p.source
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_a,
         COALESCE(SUM(p.w) OVER (ORDER BY (p.avail * 1000000000) // p.w, p.source
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_w
  FROM per p CROSS JOIN tot t WHERE p.w > 0
), flagged AS (
  SELECT *, avail * (total_w - cum_w) <= (budget - cum_a) * w AS saturated
  FROM ranked
), sat AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN saturated THEN avail ELSE 0 END), 0) AS HUGEINT) AS a_sat,
         CAST(COALESCE(SUM(CASE WHEN saturated THEN w ELSE 0 END), 0) AS HUGEINT) AS w_sat
  FROM flagged
), pos_out AS (
  SELECT f.source, CAST(f.w AS BIGINT) AS weight_permille,
         CAST(f.avail AS BIGINT) AS avail_tokens,
         CAST(CASE WHEN f.saturated OR f.total_w - s.w_sat = 0 THEN f.avail
                   ELSE ((f.budget - s.a_sat) * f.w) // (f.total_w - s.w_sat)
              END AS BIGINT) AS alloc_tokens,
         f.saturated, CAST(f.budget AS BIGINT) AS budget_tokens
  FROM flagged f CROSS JOIN sat s
), zero_out AS (
  SELECT p.source, CAST(p.w AS BIGINT) AS weight_permille,
         CAST(p.avail AS BIGINT) AS avail_tokens,
         CAST(0 AS BIGINT) AS alloc_tokens,
         FALSE AS saturated, CAST(t.budget AS BIGINT) AS budget_tokens
  FROM per p CROSS JOIN tot t WHERE p.w <= 0
), combined AS (
  SELECT * FROM pos_out UNION ALL SELECT * FROM zero_out
)
SELECT source, weight_permille, avail_tokens, alloc_tokens, saturated,
       CASE WHEN avail_tokens > 0 THEN (1000 * alloc_tokens) // avail_tokens
            ELSE 0 END AS fill_permille,
       budget_tokens
FROM combined ORDER BY source
"""


WATERFILL_SQL = _waterfill_sql()


# ------------------------------------------------- IBAN validation

# Candidate: country code + 2 check digits + 4-char groups, optional
# single-space separators (the print format). No lookarounds — RE2 (the
# DuckDB twin) has none. A following ALL-CAPS 4-char word can glom onto
# a candidate (documented trade — it then simply fails the checksum);
# lowercase words never match the class, so prose stays out.
_IBAN_CANDIDATE_RE = r"[A-Z]{2}[0-9]{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?"

# 10^k mod 97 for k = 0..95 (Fermat: 10^96 ≡ 1 mod 97, so indexing k mod
# 96 is exact for any length). Position weights replace the left-to-right
# fold — BOTH engines compute Σ d_i · P[(L−i) mod 96] with list_sum /
# F.aggregate over row-local arrays, no engine-specific reduce needed.
_POW10_MOD97 = [pow(10, k, 97) for k in range(96)]

# ISO 13616 registry lengths for the common SEPA countries; unknown
# country codes fall back to the 15..34 structural bound.
_IBAN_LENGTHS = {
    "AT": 20, "BE": 16, "CH": 21, "DE": 22, "ES": 24, "FR": 27,
    "GB": 22, "IE": 22, "IT": 27, "LU": 20, "NL": 18, "PT": 25,
}


def pii_iban_validated(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Checksum-validated IBAN detection — the bank-account sibling of
    :func:`pii_luhn_validated`: regex candidates are filtered through the
    ISO 7064 mod-97-10 check (move the first 4 chars to the end, map
    A→10..Z→35, the resulting number ≡ 1 mod 97) plus the per-country
    registry length. The checksum computes WITHOUT big-int division:
    digits weight by a 96-entry 10^k-mod-97 table (Fermat periodicity),
    so the whole validation is one list_sum of products mod 97 — exact
    int64, identical algebra in both engines, no fold, no UDF.

    Scale shape: row-local regexp + let-bound array transforms, one scan,
    no shuffle beyond the final sort (1:1 projection like the Luhn twin).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    cands = F.regexp_extract_all(c, F.lit(_IBAN_CANDIDATE_RE), 0)
    cleaned = F.transform(cands, lambda g: F.regexp_replace(g, r" ", ""))
    pow_arr = F.array(*[F.lit(p) for p in _POW10_MOD97])

    len_case = "CASE " + " ".join(
        f"WHEN cc = '{k}' THEN {v}" for k, v in sorted(_IBAN_LENGTHS.items())
    ) + " ELSE -1 END"

    def _iban_ok(s):
        n = F.length(s)
        # registry length: unknown country -> structural bound only
        reg = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in sorted(_IBAN_LENGTHS)]),
                F.array(*[F.lit(v) for _, v in sorted(_IBAN_LENGTHS.items())]),
            ),
            F.substring(s, 1, 2),
        )
        len_ok = (n >= 15) & (n <= 34) & (reg.isNull() | (reg == n))
        rearr = F.concat(F.substring(s, 5, 1_000_000), F.substring(s, 1, 4))
        # char walk via range+substr (split-by-'' semantics differ
        # between engines; positional substr is identical)
        expanded = F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), F.length(rearr)),
                lambda i: F.when(
                    (F.ascii(F.substring(rearr, i, 1)) >= 48)
                    & (F.ascii(F.substring(rearr, i, 1)) <= 57),
                    F.substring(rearr, i, 1),
                ).otherwise(
                    (F.ascii(F.substring(rearr, i, 1)) - 55).cast("string")
                ),
            ),
        )
        ln = F.length(expanded)
        total = F.aggregate(
            F.sequence(F.lit(1), ln),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + (F.ascii(F.substring(expanded, i, 1)) - 48)
            * F.element_at(pow_arr, ((ln - i) % 96) + 1),
        )
        return len_ok & ((total % 97) == 1)

    valid = F.filter(cleaned, _iban_ok)
    return df.select(
        "doc_id",
        F.size(cands).cast("long").alias("n_candidates"),
        F.size(valid).cast("long").alias("n_iban_valid"),
        (F.size(valid) > 0).alias("iban_flag"),
    ).orderBy("doc_id")


def q_pii_iban_validated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_iban_validated(table(spark, sf_dir, "documents"))


def _iban_sql() -> str:
    pow_list = ", ".join(str(p) for p in _POW10_MOD97)
    len_case = " ".join(
        f"WHEN substr(s, 1, 2) = '{k}' THEN length(s) = {v}"
        for k, v in sorted(_IBAN_LENGTHS.items())
    )
    # the expanded digit string (letters -> two-digit values) repeats in
    # the lambda — DuckDB lambdas have no let-binding; oracle-side only.
    exp = (
        "array_to_string(list_transform("
        "range(1, length(substr(s, 5) || substr(s, 1, 4)) + 1), "
        "j -> CASE WHEN ascii(substr(substr(s, 5) || substr(s, 1, 4), CAST(j AS INT), 1)) "
        "BETWEEN 48 AND 57 "
        "THEN substr(substr(s, 5) || substr(s, 1, 4), CAST(j AS INT), 1) "
        "ELSE CAST(ascii(substr(substr(s, 5) || substr(s, 1, 4), CAST(j AS INT), 1)) - 55 "
        "AS VARCHAR) END), '')"
    )
    return rf"""
WITH cands AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(COALESCE(text, ''), '@IBAN_RE@'),
           g -> replace(g, ' ', '')) AS cleaned,
         len(regexp_extract_all(COALESCE(text, ''), '@IBAN_RE@')) AS n_candidates
  FROM documents
), v AS (
  SELECT doc_id, n_candidates,
         len(list_filter(cleaned, s ->
           length(s) >= 15 AND length(s) <= 34 AND
           (CASE {len_case} ELSE TRUE END) AND
           (list_sum(list_transform(range(1, length({exp}) + 1), i ->
             (ascii(substr({exp}, CAST(i AS INT), 1)) - 48)
             * ([{pow_list}])[((length({exp}) - i) % 96) + 1]
           )) % 97) = 1
         )) AS n_iban_valid
  FROM cands
)
SELECT doc_id,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_iban_valid AS BIGINT) AS n_iban_valid,
       (n_iban_valid > 0) AS iban_flag
FROM v ORDER BY doc_id
""".replace("@IBAN_RE@", _IBAN_CANDIDATE_RE)


PII_IBAN_SQL = _iban_sql()


# ------------------------------------------------ code-switching audit

CS_MIN_MARKERS = 2  # distinct markers of a language needed to count it


def code_switch_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-switching / mixed-language contamination audit: a document
    "speaks" a language when ≥{CS_MIN_MARKERS} DISTINCT markers of that
    language appear ([[lang_id]]'s marker lists); docs speaking ≥2
    languages are code-switched — the multilingual-contamination readout
    that decides whether a source needs segment-level (not doc-level)
    language ID before training (mixed docs poison per-language
    perplexity filters and BPE merges).

    Exactness: marker presence is array_intersect/list_intersect SIZE —
    distinct-element semantics in BOTH engines — so every count is a
    pure integer. Scale shape: row-local set algebra over the token
    array, one per-source aggregate, text never shuffles."""
    c = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = TXT.words(c)
    n_langs = None
    for lang, marks in sorted(LANG_MARKERS.items()):
        hit = (
            F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in marks])))
            >= CS_MIN_MARKERS
        ).cast("int")
        n_langs = hit if n_langs is None else n_langs + hit
    per = df.select("source", n_langs.alias("n_langs"))
    return code_switch_from_partials(code_switch_partials_from_doc_counts(per))


def code_switch_partials_from_doc_counts(per: DataFrame) -> DataFrame:
    """Per-source ADDITIVE partials from per-doc n_langs rows — the
    staged unit of the streaming twin (streaming/codeswitch.py)."""
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_langs") == 0, 1).otherwise(0)).alias("n_unmarked"),
        F.sum(F.when(F.col("n_langs") == 1, 1).otherwise(0)).alias("n_monolingual"),
        F.sum(F.when(F.col("n_langs") >= 2, 1).otherwise(0)).alias("n_mixed"),
    )


def code_switch_partials(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pipeline head for the streaming twin: per-doc marker verdicts →
    per-source additive counts (everything sums across batches)."""
    c = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = TXT.words(c)
    n_langs = None
    for lang, marks in sorted(LANG_MARKERS.items()):
        hit = (
            F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in marks])))
            >= CS_MIN_MARKERS
        ).cast("int")
        n_langs = hit if n_langs is None else n_langs + hit
    return code_switch_partials_from_doc_counts(
        df.select("source", n_langs.alias("n_langs"))
    )


def code_switch_from_partials(agg: DataFrame) -> DataFrame:
    """Permille tail over per-source partials (shared with the drain)."""
    return agg.select(
        "source",
        "n_docs",
        "n_unmarked",
        "n_monolingual",
        "n_mixed",
        F.when(F.col("n_docs") > 0, F.expr("div(1000 * n_mixed, n_docs)"))
        .otherwise(F.lit(0))
        .alias("mixed_permille"),
    ).orderBy("source")


def q_code_switch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return code_switch_stats(table(spark, sf_dir, "documents"))


def _code_switch_sql() -> str:
    hits = " + ".join(
        "(CASE WHEN len(list_intersect(toks, ["
        + ", ".join(f"'{m}'" for m in marks)
        + f"])) >= {CS_MIN_MARKERS} THEN 1 ELSE 0 END)"
        for lang, marks in sorted(LANG_MARKERS.items())
    )
    return rf"""
WITH toksed AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\s+'),
                     x -> x != '') AS toks
  FROM documents
), per AS (
  SELECT source, {hits} AS n_langs FROM toksed
), agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN n_langs = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unmarked,
         CAST(SUM(CASE WHEN n_langs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_monolingual,
         CAST(SUM(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed
  FROM per GROUP BY source
)
SELECT source, n_docs, n_unmarked, n_monolingual, n_mixed,
       CASE WHEN n_docs > 0 THEN (1000 * n_mixed) // n_docs ELSE 0 END AS mixed_permille
FROM agg ORDER BY source
"""


CODE_SWITCH_SQL = _code_switch_sql()


def waterfill_sample_stats(
    df: DataFrame,
    rates_permille: dict[str, int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """The water-filling allocation APPLIED: sample each source at its
    realized fill rate (fill_permille from [[token_budget_waterfill]])
    with the deterministic Knuth-hash gate of [[mixture_sample]], and
    audit how close the sampled token mass lands to the allocation —
    the end-to-end check that the planner's numbers survive contact
    with per-document granularity (they do, up to one doc's tokens per
    source; err_permille publishes exactly that discretization error).

    Scale shape: the allocator tail is metadata-sized; applying it is
    ONE more corpus scan filtered through a 20-row broadcast join —
    the whole composition is two scans end to end, and the sampling
    decision is the same zero-shuffle row-local hash gate every re-run
    reproduces bit-exactly."""
    plan = waterfill_from_avail(
        df.select("source", TXT.word_count(F.col(text_col)).alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").alias("avail")),
        rates_permille,
    ).select("source", "alloc_tokens", "avail_tokens", "fill_permille")
    h = (
        (F.col("doc_id") % 1000003) * F.lit(2654435761) % F.lit(4294967296)
    ) % F.lit(1000)
    per = df.select(
        "source", "doc_id", TXT.word_count(F.col(text_col)).alias("n_toks")
    ).join(F.broadcast(plan), "source")
    sampled = per.withColumn("keep", h < F.col("fill_permille"))
    agg = sampled.groupBy("source").agg(
        F.max("alloc_tokens").alias("alloc_tokens"),
        F.max("fill_permille").alias("fill_permille"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("sampled_docs"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_toks")).otherwise(0)), F.lit(0)
        ).alias("sampled_tokens"),
    )
    err = F.abs(F.col("sampled_tokens") - F.col("alloc_tokens"))
    return agg.select(
        "source",
        "alloc_tokens",
        "fill_permille",
        "sampled_docs",
        "sampled_tokens",
        F.when(
            F.col("alloc_tokens") > 0,
            F.expr(f"div(1000 * {'abs(sampled_tokens - alloc_tokens)'}, alloc_tokens)"),
        )
        .otherwise(F.when(err == 0, F.lit(0)).otherwise(F.lit(-1)))
        .alias("err_permille"),
    ).orderBy("source")


def q_waterfill_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return waterfill_sample_stats(table(spark, sf_dir, "documents"))


def _waterfill_sample_sql() -> str:
    plan_sql = WATERFILL_SQL.strip().rstrip()
    # reuse the allocator SQL as a subquery; strip its ORDER BY tail
    plan_sql = plan_sql[: plan_sql.rindex("ORDER BY source")]
    return rf"""
WITH plan AS (
  {plan_sql}
), per AS (
  SELECT d.source, d.doc_id,
         len(list_filter(regexp_split_to_array(trim(d.text), '\s+'),
                         x -> x != '')) AS n_toks,
         p.alloc_tokens, p.fill_permille,
         ((d.doc_id % 1000003) * 2654435761) % 4294967296 % 1000
           < p.fill_permille AS keep
  FROM documents d JOIN plan p ON d.source = p.source
), agg AS (
  SELECT source,
         MAX(alloc_tokens) AS alloc_tokens,
         MAX(fill_permille) AS fill_permille,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
         CAST(COALESCE(SUM(CASE WHEN keep THEN n_toks ELSE 0 END), 0) AS BIGINT) AS sampled_tokens
  FROM per GROUP BY source
)
SELECT source, alloc_tokens, fill_permille, sampled_docs, sampled_tokens,
       CASE WHEN alloc_tokens > 0
            THEN (1000 * abs(sampled_tokens - alloc_tokens)) // alloc_tokens
            WHEN sampled_tokens = alloc_tokens THEN 0
            ELSE -1 END AS err_permille
FROM agg ORDER BY source
"""


WATERFILL_SAMPLE_SQL = _waterfill_sample_sql()


# ------------------------------------------------ line-level language spans

_LANGS_SORTED = tuple(sorted(LANG_MARKERS))  # de, en, es, fr, zh


def line_lang_spans(df: DataFrame, text_col: str = "text") -> DataFrame:
    """See :func:`line_lang_partials` (the pipeline head) and
    :func:`line_lang_from_partials` (the share tail, shared with the
    streaming drain)."""
    return line_lang_from_partials(line_lang_partials(df, text_col))


def line_lang_partials(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Segment-level language ID — the repair [[code_switch_stats]]
    points at: label every non-blank LINE with the language whose
    markers it carries (argmax of distinct-marker counts, ties to the
    lexicographically first language, no markers → 'und'), and publish
    per (source, lang) line counts, affected-doc counts, and line share.
    Mixed documents stop being an anomaly count and become a split plan:
    "source X is 310‰ French lines inside English docs" is actionable —
    route those lines to the French pipeline.

    Exactness: marker presence is distinct-set size (array_intersect /
    list_intersect), the argmax is a deterministic CASE over a
    MATERIALIZED per-line struct of counts — two chained transforms, so
    the count expressions evaluate once per line (the interpreted-HOF
    re-evaluation trap); every output is a pure integer.

    Scale shape: entirely row-local until ONE per-source aggregate of
    6 count columns; lines never explode into rows, text never enters
    an exchange; the (source, lang) unpivot runs on |sources| rows."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(c, "\n"), lambda ln: F.length(F.trim(ln)) > 0)
    # tokenize ONCE per line (its own transform stage), then intersect
    # the token array with each language's marker set — the tokenizer is
    # the expensive per-line expression, and referencing it inside the
    # per-language struct fields would evaluate it |langs| times per line
    # (measured 3.73 s → ~2 s at sf0.1; perf census round 10)
    toks = F.transform(lines, lambda ln: TXT.words(F.lower(ln)))
    counts = F.transform(
        toks,
        lambda ws: F.struct(
            *[
                F.size(
                    F.array_intersect(
                        ws,
                        F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]),
                    )
                ).alias(f"c_{lang}")
                for lang in _LANGS_SORTED
            ]
        ),
    )

    def _label(s):
        mx = F.greatest(*[s[f"c_{lang}"] for lang in _LANGS_SORTED])
        out = F.lit("und")
        # first (lexicographic) lang attaining the max wins — build the
        # CASE back-to-front so earlier langs take precedence
        for lang in reversed(_LANGS_SORTED):
            out = F.when((mx > 0) & (s[f"c_{lang}"] == mx), F.lit(lang)).otherwise(
                out
            )
        return out

    labels = F.transform(counts, _label)
    all_langs = (*_LANGS_SORTED, "und")

    def _eq(lg):
        # NOT `lambda x, lg=lg`: F.filter treats a two-parameter lambda
        # as (element, index) and binds the INDEX over the default
        return lambda x: x == F.lit(lg)

    per = df.select(
        "source",
        *[
            F.size(F.filter(labels, _eq(lg))).alias(f"n_{lg}")
            for lg in all_langs
        ],
    )
    agg = per.groupBy("source").agg(
        *[F.sum(f"n_{lg}").alias(f"l_{lg}") for lg in all_langs],
        *[
            F.sum(F.when(F.col(f"n_{lg}") > 0, 1).otherwise(0)).alias(f"d_{lg}")
            for lg in all_langs
        ],
    )
    stacked = agg.selectExpr(
        "source",
        "stack("
        + str(len(all_langs))
        + ", "
        + ", ".join(f"'{lg}', l_{lg}, d_{lg}" for lg in all_langs)
        + ") AS (lang, n_lines, n_docs)",
    )
    return stacked


def line_lang_from_partials(stacked: DataFrame) -> DataFrame:
    """Share tail over per-(source, lang) ADDITIVE partials (n_lines and
    n_docs both sum across batches — docs never straddle a batch), shared
    with the streaming drain (streaming/langspans.py). The per-source
    denominator re-derives as a window sum, so it needs no extra staged
    state."""
    from pyspark.sql import Window as W

    total = F.sum("n_lines").over(W.partitionBy("source"))
    return (
        stacked.withColumn("total_lines", total)
        .filter(F.col("n_lines") > 0)
        .select(
            "source",
            "lang",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.when(
                F.col("total_lines") > 0,
                F.expr("div(1000 * n_lines, total_lines)"),
            )
            .otherwise(F.lit(0))
            .alias("line_share_permille"),
        )
        .orderBy("source", "lang")
    )





def q_line_lang_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_lang_spans(table(spark, sf_dir, "documents"))


def _line_lang_sql() -> str:
    struct_fields = ", ".join(
        f"c_{lang} := len(list_intersect("
        "list_filter(regexp_split_to_array(trim(lower(ln)), '\\s+'), x -> x != ''), ["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + "]))"
        for lang in _LANGS_SORTED
    )
    mx = "GREATEST(" + ", ".join(f"s.c_{lg}" for lg in _LANGS_SORTED) + ")"
    label = "CASE"
    for lg in _LANGS_SORTED:
        label += (
            f" WHEN {mx} > 0 AND s.c_{lg} = {mx} THEN '{lg}'"
        )
    label += " ELSE 'und' END"
    all_langs = (*_LANGS_SORTED, "und")
    lsums = ", ".join(
        f"CAST(SUM(n_{lg}) AS BIGINT) AS l_{lg}, "
        f"CAST(SUM(CASE WHEN n_{lg} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_{lg}"
        for lg in all_langs
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT source, '{lg}' AS lang, l_{lg} AS n_lines, d_{lg} AS n_docs,"
        f" total_lines FROM agg"
        for lg in all_langs
    )
    n_cols = " + ".join(f"l_{lg}" for lg in all_langs)
    counts = ", ".join(
        f"len(list_filter(labels, x -> x = '{lg}')) AS n_{lg}" for lg in all_langs
    )
    return rf"""
WITH lined AS (
  SELECT source,
         list_filter(string_split(COALESCE(text, ''), chr(10)),
                     ln -> length(trim(ln)) > 0) AS lines
  FROM documents
), counted AS (
  SELECT source,
         list_transform(lines, ln -> struct_pack({struct_fields})) AS cs
  FROM lined
), labeled AS (
  SELECT source,
         list_transform(cs, s -> {label}) AS labels
  FROM counted
), per AS (
  SELECT source, {counts} FROM labeled
), agg AS (
  SELECT source, {lsums}, {n_cols} AS total_lines
  FROM (SELECT source, {', '.join(f'n_{lg}' for lg in all_langs)},
               0 AS _pad FROM per) GROUP BY source
), un AS (
  {unions}
)
SELECT source, lang, n_lines, n_docs,
       CASE WHEN total_lines > 0 THEN (1000 * n_lines) // total_lines
            ELSE 0 END AS line_share_permille
FROM un WHERE n_lines > 0
ORDER BY source, lang
"""


LINE_LANG_SQL = _line_lang_sql()


# ---------------------------------------------------- readability battery

_READ_WORD_RE = "[A-Za-z]+"
_READ_SYL_RE = "[AEIOUYaeiouy]+"
_READ_SENT_RE = "[.!?]+"
READ_EASY_MILLI = 70_000
READ_HARD_MILLI = 30_000


def readability_partials(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source ADDITIVE readability partials — the staged unit of the
    streaming twin. Flesch reading ease and Flesch–Kincaid grade in
    exact integer MILLI-units: words W = ``[A-Za-z]+`` runs, syllables
    Y = vowel-group runs (the standard heuristic), sentences
    S = ``[.!?]+`` runs floored at 1. Per doc
    ``flesch_milli = 206835 − ⌊1015·W/S⌋ − ⌊84600·Y/W⌋`` and
    ``grade_milli = ⌊390·W/S⌋ + ⌊11800·Y/W⌋ − 15590`` — every division
    has non-negative operands (the truncate-vs-floor trap never fires);
    the subtraction may go negative AFTER the divisions, which is safe.
    Docs with zero words are counted, never scored.

    Scale shape: row-local regexp counts + one per-source aggregate;
    sums run in decimal(38,0) (a 10¹² -doc source would pass int64)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    w = F.regexp_count(c, F.lit(_READ_WORD_RE))
    y = F.regexp_count(c, F.lit(_READ_SYL_RE))
    s = F.greatest(F.regexp_count(c, F.lit(_READ_SENT_RE)), F.lit(1))
    per = df.select(
        "source",
        w.cast("long").alias("w"),
        y.cast("long").alias("y"),
        s.cast("long").alias("s"),
    ).select(
        "source",
        "w",
        F.expr(
            "CASE WHEN w > 0 THEN 206835 - div(1015 * w, s) - div(84600 * y, w) END"
        ).alias("flesch_milli"),
        F.expr(
            "CASE WHEN w > 0 THEN div(390 * w, s) + div(11800 * y, w) - 15590 END"
        ).alias("grade_milli"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0)).alias("n_unscored"),
        F.sum(F.col("flesch_milli").cast("decimal(38,0)")).alias("sum_flesch_milli"),
        F.sum(F.col("grade_milli").cast("decimal(38,0)")).alias("sum_grade_milli"),
        F.sum(
            F.when(F.col("flesch_milli") >= READ_EASY_MILLI, 1).otherwise(0)
        ).alias("n_easy"),
        F.sum(
            F.when(
                (F.col("flesch_milli") < READ_EASY_MILLI)
                & (F.col("flesch_milli") >= READ_HARD_MILLI),
                1,
            ).otherwise(0)
        ).alias("n_standard"),
        F.sum(
            F.when(F.col("flesch_milli") < READ_HARD_MILLI, 1).otherwise(0)
        ).alias("n_hard"),
    )


def readability_from_partials(agg: DataFrame) -> DataFrame:
    """Cast/order tail over per-source partials (shared with the drain)."""
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_unscored").cast("long").alias("n_unscored"),
        F.col("sum_flesch_milli").cast("long").alias("sum_flesch_milli"),
        F.col("sum_grade_milli").cast("long").alias("sum_grade_milli"),
        F.col("n_easy").cast("long").alias("n_easy"),
        F.col("n_standard").cast("long").alias("n_standard"),
        F.col("n_hard").cast("long").alias("n_hard"),
    ).orderBy("source")


def readability_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source readability profile: Flesch reading-ease / FK-grade
    integer sums and easy/standard/hard band counts — the
    audience-difficulty readout a curation mixture uses next to
    [[gopher_quality_flags]] (structural junk) and [[ccnet_lm_perplexity]]
    (LM fit): quality gates pass textbook prose AND legalese; this tells
    them apart. Sums (not averages) are emitted so the output stays pure
    integer — a negative sum through floor-vs-truncate division is the
    one divergence class this family would otherwise risk."""
    return readability_from_partials(readability_partials(df, text_col))


def q_readability_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readability_stats(table(spark, sf_dir, "documents"))


READABILITY_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(len(regexp_extract_all(COALESCE(text, ''), '{_READ_WORD_RE}')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(COALESCE(text, ''), '{_READ_SYL_RE}')) AS BIGINT) AS y,
         CAST(GREATEST(len(regexp_extract_all(COALESCE(text, ''), '[.!?]+')), 1) AS BIGINT) AS s
  FROM documents
), scored AS (
  SELECT source, w,
         CASE WHEN w > 0 THEN 206835 - (1015 * w) // s - (84600 * y) // w END AS flesch_milli,
         CASE WHEN w > 0 THEN (390 * w) // s + (11800 * y) // w - 15590 END AS grade_milli
  FROM per
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unscored,
       CAST(SUM(CAST(flesch_milli AS HUGEINT)) AS BIGINT) AS sum_flesch_milli,
       CAST(SUM(CAST(grade_milli AS HUGEINT)) AS BIGINT) AS sum_grade_milli,
       CAST(SUM(CASE WHEN flesch_milli >= {READ_EASY_MILLI} THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
       CAST(SUM(CASE WHEN flesch_milli < {READ_EASY_MILLI}
                      AND flesch_milli >= {READ_HARD_MILLI} THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
       CAST(SUM(CASE WHEN flesch_milli < {READ_HARD_MILLI} THEN 1 ELSE 0 END) AS BIGINT) AS n_hard
FROM scored GROUP BY source ORDER BY source
"""


# ---------------------------------------------------- per-doc TF-IDF keywords

TFIDF_DOC_LIMIT = 50  # fixed audit slice (the binary-recall precedent)
TFIDF_TOP_K = 3
_TFIDF_SCALE = float(1 << 20)  # the PMI/BM25 quantization convention


def doc_tfidf_keywords(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document keyword extraction: the top-k whitespace terms by
    TF·IDF with the IDF taken over the FULL corpus — the classic
    Spärck Jones readout behind doc tagging, snippet labeling, and
    near-dup triage ("what is this cluster about"). Runs on the fixed
    ``doc_id < TFIDF_DOC_LIMIT`` audit slice; [[distinctive_terms]] is
    the source-grain sibling, this is the doc-grain one.

    Exactness: each term's idf is quantized ONCE at the term grain —
    ``idf_q = ⌊ln((N+1)/(df+1))·2^20⌋`` (identical IEEE division then
    one ln, the BM25 convention) — so score_q = tf·idf_q is an exact
    integer product and the top-k window (score desc, term) is total.

    Scale shape: the sampled docs' term stream is doc-slice-sized
    (predicate pushed to the scan); the corpus-grain df pass is
    SEMI-JOIN PRUNED to the candidate terms (broadcast of the sampled
    vocabulary — the dup_pair_evidence trick), so the global explode
    never shuffles the full vocabulary; one top-k window per doc with
    the WindowGroupLimit pre-shuffle prune."""
    from pyspark.sql import Window as W

    sample = df.filter(F.col("doc_id") < TFIDF_DOC_LIMIT)
    stf = (
        sample.select("doc_id", F.explode(TXT.words(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cand = stf.select("term").distinct()
    dfc = (
        df.select("doc_id", F.explode(TXT.words(F.col(text_col))).alias("term"))
        .join(F.broadcast(cand), "term")
        .select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("dfc"))
    )
    n = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        stf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "dfc",
            (
                F.col("tf")
                * F.floor(
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("dfc") + F.lit(1.0))
                    )
                    * F.lit(_TFIDF_SCALE)
                ).cast("long")
            ).alias("score_q"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_q"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "dfc", "score_q")
        .orderBy("doc_id", "rank")
    )


def q_doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_tfidf_keywords(table(spark, sf_dir, "documents"))


DOC_TFIDF_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), stf AS (
  SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks, UNNEST(ws) AS t(term)
  WHERE doc_id < {TFIDF_DOC_LIMIT}
  GROUP BY doc_id, t.term
), cand AS (
  SELECT DISTINCT term FROM stf
), dfc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc FROM (
    SELECT DISTINCT toks.doc_id, t.term
    FROM toks, UNNEST(ws) AS t(term)
    WHERE t.term IN (SELECT term FROM cand)
  ) GROUP BY term
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, stf.term, tf, dfc.dfc,
         tf * CAST(FLOOR(ln((n.n_docs + 1.0) / (dfc.dfc + 1.0)) * {_TFIDF_SCALE!r})
                   AS BIGINT) AS score_q
  FROM stf JOIN dfc ON dfc.term = stf.term CROSS JOIN n
)
SELECT doc_id, rank, term, tf, dfc, score_q FROM (
  SELECT doc_id, term, tf, dfc, score_q,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, term) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


# ------------------------------------------- KS two-sample length drift

KS_FLAG_PERMILLE = 100


def ks_length_drift(df: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift of each source's doc-length
    distribution against the REST of the corpus — the nonparametric
    "does this slice look like everything else" test that completes the
    drift battery ([[event_type_drift]] is binned PSI over two time
    windows, [[event_cusum_drift]] localizes rate shifts in time, this
    compares whole DISTRIBUTIONS with no binning choice at all).

    Exactness: D = max_v |cdf_g(v) − cdf_rest(v)| clears denominators to
    ``max_v |cum_g·n_rest − cum_rest·n_g|`` over the merged value grid —
    exact integers (decimal/HUGEINT; the product reaches n²); cum_rest
    derives as cum_all − cum_g, so only the per-(source, value) counts
    ever aggregate. Every source is evaluated at EVERY observed value
    (the dense source × value grid — cdf steps of OTHER sources move
    cdf_rest even where this source has no mass).

    Scale shape: ONE corpus-grain grouped count; the grid is
    |sources| × |distinct lengths| (bounded by the value domain, not the
    corpus) with two running windows and one max-aggregate over it."""
    return ks_from_partials(ks_length_partials(df, value_col))


def ks_length_partials(df: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """Per-(source, value) ADDITIVE counts — the staged unit of the
    streaming twin (streaming/ksdrift.py). Everything downstream of this
    one corpus-grain aggregate runs on value-domain-sized rows."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy("source", F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )


def ks_from_partials(counts: DataFrame) -> DataFrame:
    """Grid + window + max tail over (source, value) counts (shared with
    the streaming drain)."""
    from pyspark.sql import Window as W

    vals = counts.groupBy("v").agg(F.sum("c").alias("tot_v"))
    vals = vals.select(
        "v",
        F.sum("tot_v").over(W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_all"),
        F.sum("tot_v").over(W.partitionBy()).alias("n_total"),
    )
    srcs = counts.groupBy("source").agg(F.sum("c").alias("n_g"))
    grid = (
        srcs.crossJoin(vals)
        .join(counts, ["source", "v"], "left")
        .select(
            "source",
            "v",
            "n_g",
            "cum_all",
            "n_total",
            F.coalesce(F.col("c"), F.lit(0).cast("decimal(38,0)")).alias("c"),
        )
    )
    wg = W.partitionBy("source").orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    stat = grid.select(
        "source",
        "n_g",
        "n_total",
        F.abs(
            F.sum("c").over(wg) * (F.col("n_total") - F.col("n_g"))
            - (F.col("cum_all") - F.sum("c").over(wg)) * F.col("n_g")
        ).alias("gap"),
    )
    agg = stat.groupBy("source").agg(
        F.first("n_g").alias("n_g"),
        F.first("n_total").alias("n_total"),
        F.max("gap").alias("d_num"),
    )
    return agg.select(
        "source",
        F.col("n_g").cast("long").alias("n_docs"),
        F.expr(
            "CASE WHEN n_total > n_g THEN"
            " CAST(div(1000 * d_num, n_g * (n_total - n_g)) AS BIGINT) END"
        ).alias("ks_permille"),
        F.expr(
            f"CASE WHEN n_total > n_g THEN"
            f" div(1000 * d_num, n_g * (n_total - n_g)) > {KS_FLAG_PERMILLE} END"
        ).alias("drift_flag"),
    ).orderBy("source")


def q_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ks_length_drift(table(spark, sf_dir, "documents"))


KS_LENGTH_SQL = f"""
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS HUGEINT) AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY source, n_chars
), vals AS (
  SELECT v,
         SUM(tot_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_all,
         SUM(tot_v) OVER () AS n_total
  FROM (SELECT v, SUM(c) AS tot_v FROM counts GROUP BY v)
), srcs AS (
  SELECT source, SUM(c) AS n_g FROM counts GROUP BY source
), grid AS (
  SELECT s.source, va.v, s.n_g, va.cum_all, va.n_total,
         COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN vals va
  LEFT JOIN counts c ON c.source = s.source AND c.v = va.v
), stat AS (
  SELECT source, n_g, n_total,
         ABS(SUM(c) OVER w * (n_total - n_g)
             - (cum_all - SUM(c) OVER w) * n_g) AS gap
  FROM grid
  WINDOW w AS (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT source, MIN(n_g) AS n_g, MIN(n_total) AS n_total, MAX(gap) AS d_num
  FROM stat GROUP BY source
)
SELECT source,
       CAST(n_g AS BIGINT) AS n_docs,
       CASE WHEN n_total > n_g
            THEN CAST((1000 * d_num) // (n_g * (n_total - n_g)) AS BIGINT)
            END AS ks_permille,
       CASE WHEN n_total > n_g
            THEN (1000 * d_num) // (n_g * (n_total - n_g)) > {KS_FLAG_PERMILLE}
            END AS drift_flag
FROM agg ORDER BY source
"""


# ------------------------------------------------- trimmed/winsorized stats

TRIM_PERMILLE = 50  # 5% per tail, the conventional trimmed-mean cut


def robust_length_stats(df: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """Trimmed and winsorized location of the doc-length distribution per
    source — the robust-estimator pair (Tukey 1962) beside the
    [[iqr_outlier_stats]] fences and the exact quantiles: the trimmed
    mean DROPS each 5% tail, the winsorized mean CLAMPS it to the cut
    values, so together they bound how much the tails move the plain
    mean (big gap = heavy tails = the mean is lying).

    Exactness: cut ranks are ``lo = ⌊n·t/1000⌋`` rows per tail (rank-
    based, no interpolation); sums are exact integers, and SUMS + counts
    are emitted (not means — a negative sum through floor-vs-truncate
    division is the divergence class, and n_chars sums stay
    non-negative anyway, but the convention keeps outputs pure). The
    winsorized clamp values are the values AT ranks lo+1 and n−lo
    (well-defined under ties).

    Scale shape: one rank window per source (the exact-quantile cost
    class) + one grouped aggregate."""
    from pyspark.sql import Window as W

    base = df.filter(F.col(value_col).isNotNull()).select(
        "source", F.col(value_col).cast("long").alias("v")
    )
    w = W.partitionBy("source").orderBy("v")
    wc = W.partitionBy("source")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    ).withColumn("lo", F.expr(f"div(n * {TRIM_PERMILLE}, 1000)"))
    kept = (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("n") - F.col("lo"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.first("lo").cast("long").alias("n_trimmed_per_tail"),
            F.sum("v").cast("long").alias("sum_raw"),
            F.sum(F.when(kept, F.col("v")).otherwise(0)).cast("long").alias(
                "sum_trimmed"
            ),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.min(F.when(kept, F.col("v"))).cast("long").alias("clamp_lo"),
            F.max(F.when(kept, F.col("v"))).cast("long").alias("clamp_hi"),
        )
        .select(
            "source",
            "n_docs",
            "n_trimmed_per_tail",
            "sum_raw",
            "sum_trimmed",
            "n_kept",
            "clamp_lo",
            "clamp_hi",
            # winsorized sum = trimmed sum + each tail clamped to its cut
            (
                F.col("sum_trimmed")
                + F.col("n_trimmed_per_tail") * (F.col("clamp_lo") + F.col("clamp_hi"))
            ).alias("sum_winsorized"),
        )
        .orderBy("source")
    )


def q_robust_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return robust_length_stats(table(spark, sf_dir, "documents"))


ROBUST_LENGTH_SQL = f"""
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents WHERE n_chars IS NOT NULL
), cut AS (
  SELECT source, v, rn, n, (n * {TRIM_PERMILLE}) // 1000 AS lo FROM ranked
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(lo) AS BIGINT) AS n_trimmed_per_tail,
         CAST(SUM(v) AS BIGINT) AS sum_raw,
         CAST(SUM(CASE WHEN rn > lo AND rn <= n - lo THEN v ELSE 0 END) AS BIGINT)
           AS sum_trimmed,
         CAST(SUM(CASE WHEN rn > lo AND rn <= n - lo THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         CAST(MIN(CASE WHEN rn > lo AND rn <= n - lo THEN v END) AS BIGINT) AS clamp_lo,
         CAST(MAX(CASE WHEN rn > lo AND rn <= n - lo THEN v END) AS BIGINT) AS clamp_hi
  FROM cut GROUP BY source
)
SELECT source, n_docs, n_trimmed_per_tail, sum_raw, sum_trimmed, n_kept,
       clamp_lo, clamp_hi,
       sum_trimmed + n_trimmed_per_tail * (clamp_lo + clamp_hi) AS sum_winsorized
FROM agg ORDER BY source
"""


# ------------------------------------------ importance-weight ESS audit

ESS_WEIGHT_SCALE = 1024  # 2^10: keeps (Σwq)² inside decimal(38,0) at 1e13 docs


def importance_ess_stats(
    df: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    text_col: str = "text",
) -> DataFrame:
    """Effective sample size of the DSIR importance weights per source —
    Kong (1992)'s ESS = (Σw)²/Σw², THE degeneracy diagnostic every
    importance-weighted pipeline reads before trusting its resample: at
    1000‰ the weights are uniform (the selection is doing nothing); as a
    few documents soak up the mass the ratio collapses toward 1/n and
    the 'sample' is really a handful of documents wearing a corpus
    costume. [[dsir_importance_scores]] produces the weights; this says
    whether they are USABLE.

    Exactness: ESS is scale-invariant in w, so the common
    (t_raw+n)/(t_tgt+n) factor is kept (it cancels) and each weight is
    quantized ONCE as the exact integer
    ``wq = div(1024·(sum_tgt+n)·(t_raw+n), (sum_raw+n)·(t_tgt+n))``
    (both engines share the literal algebra); Σwq and Σwq² accumulate
    in decimal(38,0)/HUGEINT and ess_permille = div(1000·(Σwq)², n·Σwq²)
    — non-negative integers throughout, ≤1000 by Cauchy–Schwarz.  The
    2¹⁰ scale bounds (Σwq)² under 10³⁸ past 10¹² docs (the OLS
    two-stage lesson traded down to a smaller scale instead: ESS needs
    3 digits, not 5).

    Scale shape: the DSIR two-pass estimator (bucket table broadcast,
    map-side combinable sums) + ONE per-source aggregate."""
    scores = dsir_importance_scores(df, target_sources, text_col)
    wq = scores.select(
        "source",
        F.expr(
            f"CAST(div({ESS_WEIGHT_SCALE} * (sum_tgt + n_words)"
            f" * (t_raw + n_words),"
            f" (sum_raw + n_words) * (t_tgt + n_words)) AS DECIMAL(38,0))"
        ).alias("wq"),
    )
    agg = wq.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("wq").alias("w_sum"),
        F.sum((F.col("wq") * F.col("wq")).cast("decimal(38,0)")).alias("w2_sum"),
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.col("w_sum").cast("long").alias("wq_sum"),
        F.col("w2_sum").cast("long").alias("wq2_sum"),
        F.expr(
            "CAST(CASE WHEN w2_sum > 0 THEN div(1000 * w_sum * w_sum, n * w2_sum)"
            " END AS BIGINT)"
        ).alias("ess_permille"),
    ).orderBy("source")


def q_importance_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    return importance_ess_stats(table(spark, sf_dir, "documents"))


def _importance_ess_sql() -> str:
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return rf"""
WITH words AS (
  SELECT doc_id, source,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x != '')) AS w
  FROM documents
), toks AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)
           % {_DSIR_BUCKETS} AS b
  FROM words
), counts AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_raw,
         CAST(SUM(CASE WHEN source IN ({tgt}) THEN 1 ELSE 0 END) AS BIGINT)
           AS c_tgt
  FROM toks GROUP BY b
), totals AS (
  SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM counts
), per_doc AS (
  SELECT t.doc_id, t.source,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(c.c_raw) AS BIGINT) AS sum_raw,
         CAST(SUM(c.c_tgt) AS BIGINT) AS sum_tgt
  FROM toks t JOIN counts c ON t.b = c.b
  GROUP BY t.doc_id, t.source
), wq AS (
  SELECT source,
         CAST(({ESS_WEIGHT_SCALE} * (sum_tgt + n_words)
               * (CAST(t_raw AS HUGEINT) + n_words))
              // ((sum_raw + n_words) * (CAST(t_tgt AS HUGEINT) + n_words))
           AS HUGEINT) AS wq
  FROM per_doc CROSS JOIN totals
), agg AS (
  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(wq) AS w_sum, SUM(wq * wq) AS w2_sum
  FROM wq GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(w_sum AS BIGINT) AS wq_sum,
       CAST(w2_sum AS BIGINT) AS wq2_sum,
       CAST(CASE WHEN w2_sum > 0 THEN (1000 * w_sum * w_sum) // (n * w2_sum)
            END AS BIGINT) AS ess_permille
FROM agg ORDER BY source
"""


IMPORTANCE_ESS_SQL = _importance_ess_sql()


# ----------------------------------------- source term-frequency drift

TV_HEAD_VOCAB = 500


def source_tv_matrix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pairwise total-variation distance between sources' term-FREQUENCY
    distributions over the global top-V head vocabulary — the usage-rate
    drift matrix: [[kmv_overlap_matrix]] and source_overlap_matrix score
    SET overlap (do the sources share words at all), this scores whether
    they USE the shared words at the same rates (two mirrors of one crawl
    have TV ≈ 0; a code source and a prose source share 'the' and 'line'
    but at wildly different rates and land near 1000‰).  TV is the
    tcloseness gate's metric lifted from (quasi, sensitive) groups to
    source pairs.

    Exactness (log-free): head vocab = top-V terms by (global count
    desc, term) — a total order, so the vocabulary is deterministic;
    the per-source grid over it is DENSE (absent terms are real zeros —
    built by cross-joining the source panel with the head vocab, so the
    |p − q| sum never loses one-sided terms); TV clears denominators to
    ``div(500·Σ_v |c_av·N_b − c_bv·N_a|, N_a·N_b)`` in decimal(38,0)/
    HUGEINT (the ks_length_drift clearing, pairwise).  head_share
    permilles report how much of each source the head explains, keeping
    the truncation honest.

    Scale shape: one corpus-grain token count folds to term grain
    (map-side combinable); the head prune is a V-row sort-limit; the
    dense grid and pair join are (S·V)- and (S²·V)-row — dimension ×
    head bounded, never corpus-sized."""
    return source_tv_from_counts(source_term_counts(df, text_col))


def source_term_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, w, c): per-source token counts — the corpus pass of
    :func:`source_tv_matrix` and the staging unit of its streaming twin
    (streaming/sourcetv.py); decimal(38,0) so the sums never overflow."""
    toks = df.select("source", F.explode(TXT.words(F.col(text_col))).alias("w"))
    return toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )


def source_tv_from_counts(per_sw: DataFrame) -> DataFrame:
    """TV-matrix tail over (source, w, c) term counts — the counts are
    additive across any corpus split, so this is also the streaming
    drain (streaming/sourcetv.py)."""
    head = (
        per_sw.groupBy("w")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.desc("gc"), "w")
        .limit(TV_HEAD_VOCAB)
        .select("w")
    )
    src_tot = per_sw.groupBy("source").agg(F.sum("c").alias("t_all"))
    head_counts = per_sw.join(F.broadcast(head), "w")
    head_tot = head_counts.groupBy("source").agg(F.sum("c").alias("n_head"))
    srcs = src_tot.join(head_tot, "source", "left").select(
        "source",
        "t_all",
        F.coalesce("n_head", F.lit(0).cast("decimal(38,0)")).alias("n_head"),
    )
    grid = (
        srcs.select("source", "n_head")
        .crossJoin(F.broadcast(head))
        .join(head_counts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            "n_head",
            F.coalesce("c", F.lit(0).cast("decimal(38,0)")).alias("c"),
        )
    )
    a = grid.select(
        F.col("source").alias("src_a"),
        "w",
        F.col("c").alias("c_a"),
        F.col("n_head").alias("n_a"),
    )
    b = grid.select(
        F.col("source").alias("src_b"),
        "w",
        F.col("c").alias("c_b"),
        F.col("n_head").alias("n_b"),
    )
    pairs = a.join(b, "w").filter(F.col("src_a") < F.col("src_b"))
    tv = pairs.groupBy("src_a", "src_b", "n_a", "n_b").agg(
        F.sum(F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))).alias(
            "absdiff"
        )
    )
    shares = srcs.select(
        "source",
        F.expr(
            "CAST(CASE WHEN t_all > 0 THEN div(1000 * n_head, t_all) END AS BIGINT)"
        ).alias("head_share"),
    )
    return (
        tv.select(
            "src_a",
            "src_b",
            F.expr(
                "CAST(CASE WHEN n_a > 0 AND n_b > 0"
                " THEN div(500 * absdiff, n_a * n_b) END AS BIGINT)"
            ).alias("head_tv_permille"),
        )
        .join(shares.withColumnRenamed("source", "src_a")
              .withColumnRenamed("head_share", "head_share_a"), "src_a")
        .join(shares.withColumnRenamed("source", "src_b")
              .withColumnRenamed("head_share", "head_share_b"), "src_b")
        .select("src_a", "src_b", "head_tv_permille",
                "head_share_a", "head_share_b")
        .orderBy("src_a", "src_b")
    )


def q_source_tv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_tv_matrix(table(spark, sf_dir, "documents"))


SOURCE_TV_SQL = rf"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x != '')) AS w
  FROM documents
), per_sw AS (
  SELECT source, w, CAST(COUNT(*) AS HUGEINT) AS c FROM toks GROUP BY source, w
), head AS (
  SELECT w FROM (
    SELECT w, SUM(c) AS gc FROM per_sw GROUP BY w
    ORDER BY gc DESC, w LIMIT {TV_HEAD_VOCAB}
  )
), src_tot AS (
  SELECT source, SUM(c) AS t_all FROM per_sw GROUP BY source
), head_counts AS (
  SELECT p.source, p.w, p.c FROM per_sw p JOIN head h ON h.w = p.w
), head_tot AS (
  SELECT source, SUM(c) AS n_head FROM head_counts GROUP BY source
), srcs AS (
  SELECT st.source, st.t_all, COALESCE(ht.n_head, 0) AS n_head
  FROM src_tot st LEFT JOIN head_tot ht ON ht.source = st.source
), grid AS (
  SELECT s.source, h.w, s.n_head, COALESCE(hc.c, 0) AS c
  FROM srcs s CROSS JOIN head h
  LEFT JOIN head_counts hc ON hc.source = s.source AND hc.w = h.w
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.n_head AS n_a,
         b.n_head AS n_b,
         SUM(ABS(a.c * b.n_head - b.c * a.n_head)) AS absdiff
  FROM grid a JOIN grid b ON a.w = b.w AND a.source < b.source
  GROUP BY a.source, b.source, a.n_head, b.n_head
), shares AS (
  SELECT source,
         CAST(CASE WHEN t_all > 0 THEN (1000 * n_head) // t_all END AS BIGINT)
           AS head_share
  FROM srcs
)
SELECT p.src_a, p.src_b,
       CAST(CASE WHEN p.n_a > 0 AND p.n_b > 0
            THEN (500 * p.absdiff) // (p.n_a * p.n_b) END AS BIGINT)
         AS head_tv_permille,
       sa.head_share AS head_share_a,
       sb.head_share AS head_share_b
FROM pairs p
JOIN shares sa ON sa.source = p.src_a
JOIN shares sb ON sb.source = p.src_b
ORDER BY p.src_a, p.src_b
"""


# ------------------------------------------ Brier score decomposition


def brier_decomposition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Murphy (1973) decomposition of the Brier score per source for the
    stopword-density score read as a keep-probability against the Gopher
    verdict — Brier = REL − RES + UNC (+ the within-bin remainder):
    [[score_calibration_bins]] shows the reliability diagram,
    [[q_score_auc]] ranks, and this SPLITS the squared error into the
    part recalibration can remove (REL), the part the score genuinely
    knows (RES) and the base-rate floor no scorer can beat (UNC).  A
    proxy gate with high REL needs a calibration map before deployment;
    one with low RES is not worth deploying at all.

    Exactness: derives entirely from [[score_label_hist]] (the shared
    additive pass — q1000 is exact per row, so the RAW Brier sum
    Σ pos·(q−1000)² + neg·q² is exact, not the binned approximation);
    bin terms clear denominators — REL's Σ_b div((s_b − y_b)², n_b) and
    RES's Σ_b div((y_b − n_b·ȳ_q)², n_b) with the global base rate
    floored ONCE to permille (documented quantization both engines
    share); UNC = ȳ_q·(1000 − ȳ_q) is already micro-units.  The signed
    ``residual_micros`` closes the identity exactly — it carries the
    within-bin variance the classic three-term form assumes away plus
    the flooring slack, emitted rather than hidden.  decimal(38,0)
    bound: (1000·n_b)² < 10³⁸ holds to 10¹⁶ docs per bin.

    Scale shape: the ONE shared corpus pass, then ≤1001-row histogram
    algebra per source."""
    return brier_from_hist(score_label_hist(df, text_col))


def brier_from_hist(hist: DataFrame) -> DataFrame:
    """Decomposition algebra over the (source, q1000, pos, neg) histogram
    (shared with fixtures and any streaming drain)."""
    binned = hist.groupBy(
        "source",
        F.least(F.expr("q1000 div 100"), F.lit(CALIBRATION_N_BINS - 1))
        .cast("long")
        .alias("bin"),
    ).agg(
        F.sum(F.col("pos") + F.col("neg")).cast("decimal(38,0)").alias("n_b"),
        F.sum(F.lit(1000) * F.col("pos")).cast("decimal(38,0)").alias("y_b"),
        F.sum(F.col("q1000") * (F.col("pos") + F.col("neg")))
        .cast("decimal(38,0)")
        .alias("s_b"),
    )
    raw = hist.groupBy("source").agg(
        F.sum(F.col("pos") + F.col("neg")).cast("decimal(38,0)").alias("n"),
        F.sum("pos").cast("decimal(38,0)").alias("p"),
        F.sum(
            (
                F.col("pos") * (F.col("q1000") - F.lit(1000)) * (F.col("q1000") - F.lit(1000))
                + F.col("neg") * F.col("q1000") * F.col("q1000")
            ).cast("decimal(38,0)")
        ).alias("brier_sum"),
    ).withColumn("ybar_q", F.expr("div(1000 * p, n)"))
    terms = (
        binned.join(raw.select("source", "n", "ybar_q"), "source")
        .groupBy("source")
        .agg(
            F.sum(F.expr("div((s_b - y_b) * (s_b - y_b), n_b)")).alias("rel_sum"),
            F.sum(
                F.expr(
                    "div((y_b - n_b * ybar_q) * (y_b - n_b * ybar_q), n_b)"
                )
            ).alias("res_sum"),
        )
    )
    out = raw.join(terms, "source").select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.expr("CAST(div(brier_sum, n) AS BIGINT)").alias("brier_micros"),
        F.expr("CAST(div(rel_sum, n) AS BIGINT)").alias("reliability_micros"),
        F.expr("CAST(div(res_sum, n) AS BIGINT)").alias("resolution_micros"),
        F.expr("CAST(ybar_q * (1000 - ybar_q) AS BIGINT)").alias(
            "uncertainty_micros"
        ),
    )
    return out.select(
        "source",
        "n_docs",
        "brier_micros",
        "reliability_micros",
        "resolution_micros",
        "uncertainty_micros",
        (
            F.col("brier_micros")
            - F.col("reliability_micros")
            + F.col("resolution_micros")
            - F.col("uncertainty_micros")
        ).cast("long").alias("residual_micros"),
    ).orderBy("source")


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brier_decomposition(table(spark, sf_dir, "documents"))


def _brier_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH {_GOPHER_CTE},
keepers AS (
  SELECT doc_id, {_GOPHER_KEEP_EXPR} AS gopher_keep FROM f
), per_doc AS (
  SELECT b.source,
         CASE WHEN len(ws) > 0
              THEN (1000 * len(list_filter(ws, w -> list_contains([{stoplist}], w)))) // len(ws)
              ELSE 0 END AS q1000,
         CASE WHEN k.gopher_keep THEN 1 ELSE 0 END AS keep
  FROM base b JOIN keepers k USING (doc_id)
), hist AS (
  SELECT source, q1000,
         CAST(SUM(keep) AS HUGEINT) AS pos,
         CAST(COUNT(*) - SUM(keep) AS HUGEINT) AS neg
  FROM per_doc GROUP BY source, q1000
), binned AS (
  SELECT source, LEAST(q1000 // 100, {CALIBRATION_N_BINS - 1}) AS bin,
         SUM(pos + neg) AS n_b,
         SUM(1000 * pos) AS y_b,
         SUM(q1000 * (pos + neg)) AS s_b
  FROM hist GROUP BY source, LEAST(q1000 // 100, {CALIBRATION_N_BINS - 1})
), raw AS (
  SELECT source,
         SUM(pos + neg) AS n,
         SUM(pos) AS p,
         SUM(pos * (q1000 - 1000) * (q1000 - 1000) + neg * q1000 * q1000)
           AS brier_sum
  FROM hist GROUP BY source
), based AS (
  SELECT source, n, brier_sum, (1000 * p) // n AS ybar_q FROM raw
), terms AS (
  SELECT b.source,
         SUM(((s_b - y_b) * (s_b - y_b)) // n_b) AS rel_sum,
         SUM(((y_b - n_b * r.ybar_q) * (y_b - n_b * r.ybar_q)) // n_b)
           AS res_sum
  FROM binned b JOIN based r ON r.source = b.source
  GROUP BY b.source
), out AS (
  SELECT r.source,
         CAST(r.n AS BIGINT) AS n_docs,
         CAST(r.brier_sum // r.n AS BIGINT) AS brier_micros,
         CAST(t.rel_sum // r.n AS BIGINT) AS reliability_micros,
         CAST(t.res_sum // r.n AS BIGINT) AS resolution_micros,
         CAST(r.ybar_q * (1000 - r.ybar_q) AS BIGINT) AS uncertainty_micros
  FROM based r JOIN terms t ON t.source = r.source
)
SELECT source, n_docs, brier_micros, reliability_micros, resolution_micros,
       uncertainty_micros,
       brier_micros - reliability_micros + resolution_micros
         - uncertainty_micros AS residual_micros
FROM out ORDER BY source
"""


BRIER_SQL = _brier_sql()


# ------------------------------------------ one-way ANOVA (length ~ lang)


def length_anova_stats(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """One-way ANOVA of document length across languages — the
    categorical-vs-numeric leg of the inferential battery
    ([[event_hour_independence]] is categorical×categorical χ²,
    [[ols_price_quantity]] numeric×numeric): does doc length genuinely
    differ by language, or is the per-lang mean gap noise?  η² (the
    explained-variance share) is the effect size a mixture designer
    reads before stratifying length buckets by language; F is the
    classic test statistic.

    Exactness (no float): group power sums n_g, s_g, s2_g in
    decimal(38,0)/HUGEINT; the between/within split clears each group's
    ``s_g²/n_g`` with ONE floor-div per group (the χ² per-cell-flooring
    convention — the emitted statistic is the per-group-floored variant
    both engines share; slack < #groups against SST ~ N·σ²):
    ``ssb_q = GREATEST(Σ_g div(s_g², n_g) − div(S², N), 0)`` (the
    flooring can dip below zero by < #groups — clamped, the χ² lesson),
    ``ssw_q = Σ s2 − Σ_g div(s_g², n_g)``,
    ``F_permille = div(1000·ssb_q·(N−k), ssw_q·(k−1))``,
    ``eta2_permille = div(1000·ssb_q, ssb_q + ssw_q)``.
    Degenerate k=1 or zero within-variance surfaces NULL F.

    Scale shape: ONE map-side-combinable grouped aggregate to language
    grain, then k-row tail algebra."""
    agg = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s_g"),
        F.sum(
            (F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")).cast(
                "decimal(38,0)"
            )
        ).alias("s2_g"),
    )
    tail = agg.groupBy().agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("s2_g").alias("s2"),
        F.sum(F.expr("div(s_g * s_g, n_g)")).alias("gsum"),
    )
    out = tail.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_docs"),
        F.expr("CAST(greatest(gsum - div(s * s, n), 0) AS DECIMAL(38,0))").alias("ssb_q"),
        F.expr("CAST(s2 - gsum AS DECIMAL(38,0))").alias("ssw_q"),
        "k",
        "n",
    )
    return out.select(
        "n_groups",
        "n_docs",
        F.col("ssb_q").cast("long").alias("ss_between"),
        F.col("ssw_q").cast("long").alias("ss_within"),
        F.expr(
            "CAST(CASE WHEN k > 1 AND ssw_q > 0"
            " THEN div(1000 * ssb_q * (n - k), ssw_q * (k - 1))"
            " END AS BIGINT)"
        ).alias("f_permille"),
        F.expr(
            "CAST(CASE WHEN ssb_q + ssw_q > 0"
            " THEN div(1000 * ssb_q, ssb_q + ssw_q)"
            " END AS BIGINT)"
        ).alias("eta2_permille"),
    )


def q_length_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_anova_stats(table(spark, sf_dir, "documents"))


LENGTH_ANOVA_SQL = """
WITH agg AS (
  SELECT lang AS g,
         CAST(COUNT(*) AS HUGEINT) AS n_g,
         SUM(CAST(n_chars AS HUGEINT)) AS s_g,
         SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2_g
  FROM documents GROUP BY lang
), tail AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
         SUM(n_g) AS n, SUM(s_g) AS s, SUM(s2_g) AS s2,
         SUM((s_g * s_g) // n_g) AS gsum
  FROM agg
), split AS (
  SELECT k, n,
         greatest(gsum - (s * s) // n, 0) AS ssb_q,
         s2 - gsum AS ssw_q
  FROM tail
)
SELECT CAST(k AS BIGINT) AS n_groups,
       CAST(n AS BIGINT) AS n_docs,
       CAST(ssb_q AS BIGINT) AS ss_between,
       CAST(ssw_q AS BIGINT) AS ss_within,
       CAST(CASE WHEN k > 1 AND ssw_q > 0
            THEN (1000 * ssb_q * (n - k)) // (ssw_q * (k - 1))
            END AS BIGINT) AS f_permille,
       CAST(CASE WHEN ssb_q + ssw_q > 0
            THEN (1000 * ssb_q) // (ssb_q + ssw_q)
            END AS BIGINT) AS eta2_permille
FROM split
"""


# ------------------------------------------ classifier lift table


def score_lift_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Decile gains/lift table for the quality score against the Gopher
    verdict — the fourth and final classic of the classifier-eval suite
    ([[score_calibration_bins]] reliability, [[q_score_auc]] ranking,
    [[brier_decomposition]] error anatomy, THIS the business readout):
    gating at the top-k deciles captures what share of the keepers, at
    what lift over random?  'The top 30% of scores hold 520‰ of the
    keeps at 1.7× lift' is the sentence a curation budget decision is.

    Exactness: derives from [[score_label_hist]] (the shared additive
    pass); deciles cumulate from the BEST-scored down (bin desc);
    capture = div(1000·cum_pos, P), lift = div(1000·cum_pos·N, cum_n·P)
    — exact integers end to end.

    Scale shape: the one shared corpus pass, then a 10-row window."""
    from pyspark.sql import Window as W

    hist = score_label_hist(df, text_col)
    bins = hist.groupBy(
        F.least(F.expr("q1000 div 100"), F.lit(CALIBRATION_N_BINS - 1))
        .cast("long")
        .alias("bin")
    ).agg(
        F.sum(F.col("pos") + F.col("neg")).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_keep"),
    )
    wd = W.partitionBy().orderBy(F.desc("bin"))
    wt = W.partitionBy()
    cum = bins.select(
        "bin",
        "n_docs",
        "n_keep",
        F.sum("n_docs").over(wd).alias("cum_docs"),
        F.sum("n_keep").over(wd).alias("cum_keep"),
        F.sum("n_docs").over(wt).alias("n"),
        F.sum("n_keep").over(wt).alias("p"),
    )
    return cum.select(
        "bin",
        "n_docs",
        "n_keep",
        F.col("cum_docs").cast("long").alias("cum_docs"),
        F.col("cum_keep").cast("long").alias("cum_keep"),
        F.expr("CAST(CASE WHEN p > 0 THEN div(1000 * cum_keep, p) END AS BIGINT)").alias(
            "capture_permille"
        ),
        F.expr(
            "CAST(CASE WHEN p > 0 AND cum_docs > 0"
            " THEN div(1000 * cum_keep * n, cum_docs * p) END AS BIGINT)"
        ).alias("lift_permille"),
    ).orderBy(F.desc("bin"))


def q_score_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_lift_table(table(spark, sf_dir, "documents"))


def _lift_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH {_GOPHER_CTE},
keepers AS (
  SELECT doc_id, {_GOPHER_KEEP_EXPR} AS gopher_keep FROM f
), per_doc AS (
  SELECT b.doc_id,
         CASE WHEN len(ws) > 0
              THEN (1000 * len(list_filter(ws, w -> list_contains([{stoplist}], w)))) // len(ws)
              ELSE 0 END AS q1000,
         CASE WHEN k.gopher_keep THEN 1 ELSE 0 END AS keep
  FROM base b JOIN keepers k USING (doc_id)
), bins AS (
  SELECT LEAST(q1000 // 100, {CALIBRATION_N_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(keep) AS BIGINT) AS n_keep
  FROM per_doc GROUP BY LEAST(q1000 // 100, {CALIBRATION_N_BINS - 1})
), cum AS (
  SELECT bin, n_docs, n_keep,
         SUM(n_docs) OVER (ORDER BY bin DESC) AS cum_docs,
         SUM(n_keep) OVER (ORDER BY bin DESC) AS cum_keep,
         SUM(n_docs) OVER () AS n,
         SUM(n_keep) OVER () AS p
  FROM bins
)
SELECT bin, n_docs, n_keep,
       CAST(cum_docs AS BIGINT) AS cum_docs,
       CAST(cum_keep AS BIGINT) AS cum_keep,
       CAST(CASE WHEN p > 0 THEN (1000 * cum_keep) // p END AS BIGINT)
         AS capture_permille,
       CAST(CASE WHEN p > 0 AND cum_docs > 0
            THEN (1000 * cum_keep * n) // (cum_docs * p) END AS BIGINT)
         AS lift_permille
FROM cum ORDER BY bin DESC
"""


SCORE_LIFT_SQL = _lift_sql()


# ------------------------------------------ template-opener detection

TEMPLATE_PREFIX_WORDS = 8


def prefix_template_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Template-opener audit per source: how many documents share their
    first {TEMPLATE_PREFIX_WORDS} words with another document — the
    boilerplate signature of scraped form pages, auto-generated reports
    and mirrored templates that exact-hash dedup misses (the BODIES
    differ) and near-dup scoring pays full price to find.  A cheap
    prefix group-by catches the template family first;
    [[duplicated_spans]] then only needs to chase what survives.

    Exactness: the prefix is the lowercase first-k whitespace tokens
    (shorter docs use all their tokens — a 3-word doc can still be a
    template); every output is a count or floor-div permille; the top
    template breaks ties deterministically (count desc, prefix asc).

    Scale shape: one corpus-grain grouped count at (source, prefix)
    grain (text leaves the scan as a ≤k-word prefix — never the full
    body), then source-grain windows over prefix-grain rows."""
    from pyspark.sql import Window as W

    toks = TXT.words(F.lower(F.col(text_col)))
    prefix = F.array_join(F.slice(toks, 1, TEMPLATE_PREFIX_WORDS), " ")
    per_prefix = df.select("source", prefix.alias("prefix")).groupBy(
        "source", "prefix"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wr = W.partitionBy("source").orderBy(F.desc("c"), "prefix")
    ranked = per_prefix.withColumn("rn", F.row_number().over(wr))
    return (
        ranked.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_prefixes"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("templated_docs"),
            F.max(F.when(F.col("rn") == 1, F.col("prefix"))).alias("top_prefix"),
            F.max(F.when(F.col("rn") == 1, F.col("c"))).cast("long").alias("top_c"),
        )
        .select(
            "source",
            "n_docs",
            "n_prefixes",
            "templated_docs",
            F.expr("div(1000 * templated_docs, n_docs)").alias(
                "templated_permille"
            ),
            "top_prefix",
            F.expr("div(1000 * top_c, n_docs)").alias("top_share_permille"),
        )
        .orderBy("source")
    )


def q_prefix_template_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_template_stats(table(spark, sf_dir, "documents"))


PREFIX_TEMPLATE_SQL = rf"""
WITH pre AS (
  SELECT source,
         array_to_string(
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x != '')[1:{TEMPLATE_PREFIX_WORDS}], ' ') AS prefix
  FROM documents
), per_prefix AS (
  SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS c
  FROM pre GROUP BY source, prefix
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY c DESC, prefix) AS rn
  FROM per_prefix
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS templated_docs,
       CAST((1000 * SUM(CASE WHEN c > 1 THEN c ELSE 0 END)) // SUM(c) AS BIGINT)
         AS templated_permille,
       MAX(CASE WHEN rn = 1 THEN prefix END) AS top_prefix,
       CAST((1000 * MAX(CASE WHEN rn = 1 THEN c END)) // SUM(c) AS BIGINT)
         AS top_share_permille
FROM ranked GROUP BY source ORDER BY source
"""


# ------------------------------------------ metadata consistency audit


def metadata_consistency_stats(df: DataFrame) -> DataFrame:
    """Stored-metadata vs recomputed-truth audit per source: does the
    n_chars column actually equal length(text)?  Derived columns go
    stale the moment any pipeline stage rewrites text without
    refreshing them (the truncation/clean/redact stages all CAN) — and
    every length-based gate downstream ([[robust_length_stats]],
    [[ks_length_drift]], the Gopher rules) silently reads the lie.
    This is the contract check that catches it at ingest.

    Exactness: per-row delta = ``length(text) − n_chars`` (NULL text
    counted separately); counts, max |delta| and the stale share are
    exact integers.

    Scale shape: one row-local projection + a per-source aggregate."""
    delta = F.length(F.col("text")) - F.col("n_chars")
    return (
        df.select(
            "source",
            F.col("text").isNull().alias("null_text"),
            delta.alias("delta"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("null_text").cast("long")).cast("long").alias("n_null_text"),
            F.sum(
                (~F.col("null_text") & (F.col("delta") != 0)).cast("long")
            ).cast("long").alias("n_stale"),
            F.max(F.when(~F.col("null_text"), F.abs(F.col("delta"))))
            .cast("long")
            .alias("max_abs_delta"),
        )
        .select(
            "source",
            "n_docs",
            "n_null_text",
            "n_stale",
            F.expr("div(1000 * n_stale, n_docs)").alias("stale_permille"),
            "max_abs_delta",
        )
        .orderBy("source")
    )


def q_metadata_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metadata_consistency_stats(table(spark, sf_dir, "documents"))


METADATA_CONSISTENCY_SQL = """
WITH base AS (
  SELECT source, text IS NULL AS null_text,
         length(text) - n_chars AS delta
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN null_text THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
       CAST(SUM(CASE WHEN NOT null_text AND delta != 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stale,
       CAST((1000 * SUM(CASE WHEN NOT null_text AND delta != 0 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS stale_permille,
       CAST(MAX(CASE WHEN NOT null_text THEN ABS(delta) END) AS BIGINT)
         AS max_abs_delta
FROM base GROUP BY source ORDER BY source
"""
