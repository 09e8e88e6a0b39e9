"""Corpus selection operators — which documents survive curation.

The three selection rules every large-scale training-data pipeline ends
up needing on top of pair-finding and scoring:

- :func:`cluster_best_keep` — quality-aware representative selection per
  near-dup cluster (keep the best doc, not the lowest id), the keep rule
  NeMo-Curator/RefinedWeb-style fuzzy dedup applies after clustering;
- :func:`domain_cap_sample` — per-domain document caps (bound any one
  domain's share of the corpus, RefinedWeb §3.4-style);
- :func:`temperature_mixture_sample` — UniMax-style temperature sampling
  across languages (downweight head languages by sqrt instead of a
  hand-written permille table).

Extends the reference's DropDuplicationStep keep rule (first row per
content hash, SURVEY §2.3; `wurzel/steps/duplication/step.py`) with the
quality-aware and share-bounded variants the reference's single-tenant
corpus never needed. All three are deterministic and engine-reproducible:
integer hashes for sampling decisions, exact-integer quality metrics for
argmax rules, at most ONE IEEE double op (sqrt) per decision — so each
query is hash-green under the DuckDB oracle, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators import common, dedup
from wurzel_spark.operators.textstats import STOPWORDS
from wurzel_spark.tables import table

# ------------------------------------------------- cluster representatives


def cluster_best_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware representative per near-dup cluster: keep the doc
    with the MOST words (tie → lowest doc_id) instead of blindly keeping
    the minimum id — near-dup clusters usually contain one full document
    plus truncated/boilerplate-wrapped copies, and "keep the longest" is
    the standard fuzzy-dedup keep rule for exactly that reason.

    The quality metric is the exact integer word count, so the argmax is
    deterministic and cross-engine bit-stable (no float quality model in
    the keep decision; swap in any integer-valued scorer).

    Scale shape: cluster membership from
    :func:`~wurzel_spark.operators.dedup.near_dup_cluster_members`
    (size-guarded union-find / distributed min-label propagation), then
    ONE join of the membership table (longs, dup-graph-sized — orders of
    magnitude smaller than the corpus, broadcastable by AQE) against the
    corpus projected to (id, n_words), and a per-cluster window whose
    partitions are cluster-sized (near-dup clusters are small cliques;
    a mega-cluster would already have blown up pair generation, which is
    df-capped upstream).

    Returns (cluster_id, size, keep_doc_id, keep_n_words) per component.
    """
    members = dedup.near_dup_cluster_members(pairs)
    scored = docs.select(
        F.col(id_col).alias("doc_id"), TXT.word_count(F.col(text_col)).alias("n_words")
    )
    ranked = (
        members.join(scored, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("cluster_id").orderBy(
                    F.col("n_words").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .withColumn("size", F.count(F.lit(1)).over(W.partitionBy("cluster_id")))
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            "size",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_words").alias("keep_n_words"),
        )
        .orderBy("cluster_id")
    )


def q_cluster_best_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, sort=False)
    return cluster_best_keep(docs, pairs)


CLUSTER_BEST_KEEP_SQL = f"""
WITH RECURSIVE {dedup._JACCARD_PAIRS_CTE},
{dedup._REACH_CTE},
labels AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src
),
scored AS (
  SELECT l.cluster_id, l.doc_id,
         len({TXT.words_sql('d.text')}) AS n_words
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, n_words,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_words DESC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY cluster_id) AS size
  FROM scored
)
SELECT cluster_id, size, doc_id AS keep_doc_id, n_words AS keep_n_words
FROM ranked WHERE rk = 1 ORDER BY cluster_id
"""


# ------------------------------------------------------- per-domain caps

DOMAIN_CAP = 40


def domain_cap_sample(
    df: DataFrame, cap: int = DOMAIN_CAP, source_col: str = "source"
) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` docs per source,
    chosen by deterministic hash rank (so the kept subset is a stable
    uniform-ish sample of the domain, not its first-N by ingest order).
    This is the "no domain dominates the corpus" rule (RefinedWeb bounds
    per-domain share the same way after URL dedup).

    Scale shape: project to (doc_id, source, h) — three longs — BEFORE
    the per-source rank window, so the window sorts 24-byte rows, never
    text. Exact top-``cap`` per domain is a window; at extreme per-domain
    cardinality you'd first apply an approximate hash THRESHOLD (keep iff
    h < cap/n_domain · 2^32 · (1+ε) from a broadcast per-domain count —
    two map-side-combinable aggregates, no window) and only rank the ~cap
    survivors; the window form here IS that final exact step.

    Returns the kept rows (doc_id, source, rk) ordered by doc_id.
    """
    ranked = df.select(
        "doc_id", F.col(source_col).alias("source"), common.knuth_hash(F.col("doc_id")).alias("h")
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.col("h").asc(), F.col("doc_id").asc())
        ),
    )
    return (
        ranked.filter(F.col("rk") <= cap)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
        .orderBy("doc_id")
    )


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_cap_sample(table(spark, sf_dir, "documents"))


DOMAIN_CAP_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {common.knuth_sql()} ASC, doc_id ASC) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {DOMAIN_CAP} ORDER BY doc_id
"""


# ---------------------------------------------- temperature (UniMax-ish)

_2_32 = 1 << 32


def temperature_mixture_sample(
    df: DataFrame, lang_col: str = "lang"
) -> DataFrame:
    """Temperature-based language rebalancing (the UniMax / mT5 α=0.5
    shape): each language keeps a sqrt-proportional share so head
    languages are downweighted without a hand-maintained permille table.
    Keep probability for language L with n_L docs is sqrt(n_min / n_L) —
    the smallest language keeps everything, a language 100× larger keeps
    10× the smallest's count (not 100×).

    Determinism across engines: the keep decision is
    ``knuth_hash(doc_id) < floor(sqrt(n_min / n_L) * 2^32)`` — one IEEE
    division of exact integers, one sqrt, one exact power-of-two scale,
    one floor. No RNG, no order-dependent float summation (the classic
    Σ count^α normalization is NOT engine-stable; the pairwise n_min/n_L
    form is).

    Scale shape: per-language counts (map-side combinable, |langs| rows)
    → broadcast join of the threshold table → map-only hash filter →
    per-language keep stats. The corpus is scanned once and never
    shuffled on text.

    Returns (lang, n_docs, keep_threshold, n_kept) per language.
    """
    counts = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    thresh = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_min").cast("double") / F.col("n_docs").cast("double"))
            * F.lit(float(_2_32))
        ).alias("keep_threshold"),
    )
    # |langs| rows feeding TWO consumers (the hash filter and the final
    # report) — pin it so the corpus count-scan runs once, not per branch.
    thresh = thresh.localCheckpoint(eager=True)
    kept = (
        df.select(F.col(lang_col).alias("lang"), common.knuth_hash(F.col("doc_id")).alias("h"))
        .join(F.broadcast(thresh.select("lang", "keep_threshold")), "lang")
        .filter(F.col("h") < F.col("keep_threshold"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        thresh.join(F.broadcast(kept), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "keep_threshold",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
        .orderBy("lang")
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_mixture_sample(table(spark, sf_dir, "documents"))


TEMPERATURE_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), mn AS (
  SELECT MIN(n_docs) AS n_min FROM counts
), thresh AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    * {float(_2_32)!r}) AS BIGINT) AS keep_threshold
  FROM counts, mn
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN thresh t ON t.lang = d.lang
  WHERE {common.knuth_sql()} < t.keep_threshold
  GROUP BY d.lang
)
SELECT t.lang, t.n_docs, t.keep_threshold, COALESCE(k.n_kept, 0) AS n_kept
FROM thresh t LEFT JOIN kept k ON k.lang = t.lang
ORDER BY t.lang
"""


def q_cluster_best_keep_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep rule over df-CAPPED pairs — the configuration you run at
    corpus scale (PERF.md round-4 close: the uncapped form is the exact
    verifier; this is the production twin, oracle-checked)."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=dedup.CAPPED_MAX_DF, sort=False
    )
    return cluster_best_keep(docs, pairs)


CLUSTER_BEST_KEEP_CAPPED_SQL = f"""
WITH RECURSIVE {dedup._CAPPED_PAIRS_CTE},
{dedup._REACH_CTE},
labels AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src
),
scored AS (
  SELECT l.cluster_id, l.doc_id,
         len({TXT.words_sql('d.text')}) AS n_words
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, n_words,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_words DESC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY cluster_id) AS size
  FROM scored
)
SELECT cluster_id, size, doc_id AS keep_doc_id, n_words AS keep_n_words
FROM ranked WHERE rk = 1 ORDER BY cluster_id
"""


# ------------------------------------- source-normalized quality gating

KEEP_FRACTION = 0.5
# Few giant sources → two-phase bucketed rank (skew); more sources than
# this → groups are small and the plain per-source window is used.
_GATE_TWO_PHASE_MAX_SOURCES = 4096


def quality_percentile_gate(
    df: DataFrame,
    keep_frac: float = KEEP_FRACTION,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Source-NORMALIZED quality filtering: keep the top ``keep_frac`` of
    each source by quality percentile, instead of one global threshold.
    A global cut biases against sources whose style shifts the score
    distribution (code vs prose vs forum text); per-source percentile
    rank equalizes the cut — the CCNet-style per-shard quantile bucketing
    applied as a keep rule.

    Quality signal: stopword hits per word (the strongest single
    predictor in the rule battery), ranked DESC with doc_id tiebreak so
    the ordering is total and the percentile deterministic. percent_rank
    = (rank-1)/(n-1) — one division of exact integers, cross-engine
    bit-exact. Scale shape: project to (doc_id, source, 2 ints) before
    any shuffle; text never enters an exchange.

    SKEW (the 100 TB shape): a per-source window makes one task sort a
    whole source — fatal when a few giant sources dominate. With few
    distinct sources (≤ ``_GATE_TWO_PHASE_MAX_SOURCES``), rank is
    computed TWO-PHASE like ordering.corpus_shuffle: bucket each row by
    ⌊(1−ratio)·1024⌋ (bucket order == ratio-desc order), per-(source,
    bucket) counts collect to the driver (≤ sources×1025 longs), prefix
    offsets broadcast back, and the window partitions by (source,
    bucket) — each sort is ~0.1% of a source. Many distinct sources →
    groups are small → the plain per-source window is already parallel
    and is used directly. Same output either way (the percentile formula
    is rank-arithmetic); the SAME oracle certifies both plans.
    """
    c = F.col(text_col)
    score = TXT.marker_words_count(c, tuple("the a and of to in is for on with".split()))
    nw = TXT.word_count(c)
    base = df.select(
        "doc_id",
        F.col(source_col).alias("source"),
        score.alias("stop_hits"),
        nw.alias("n_words"),
    )
    ratio = F.col("stop_hits").cast("double") / F.when(
        F.col("n_words") > 0, F.col("n_words")
    )
    base = base.withColumn("__r", ratio).localCheckpoint(eager=True)
    # ratio ∈ [0,1] (hits ≤ words); nulls (empty docs) sort LAST under
    # desc_nulls_last == bucket 1025
    bkt = F.when(
        F.col("__r").isNotNull(),
        F.least(F.floor((F.lit(1.0) - F.col("__r")) * 1024), F.lit(1024)),
    ).otherwise(F.lit(1025))
    b = base.withColumn("__bkt", bkt)
    # ONE driver action decides the plan AND fetches the offsets: collect
    # the per-(source, bucket) counts bounded at cap·1026+1 rows (so a
    # many-source corpus costs one bounded collect, not an unbounded one)
    # and derive the source cardinality from the collected keys — merging
    # the former distinct-count probe job into this collect (toy-scale
    # job-floor cut; at scale both were cheap).
    _cap = _GATE_TWO_PHASE_MAX_SOURCES
    counts = (
        b.groupBy("source", "__bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .limit(_cap * 1026 + 1)
        .collect()
    )
    truncated = len(counts) > _cap * 1026  # source count unknown: too big
    n_sources = None if truncated else len({r["source"] for r in counts})
    if common.fits(n_sources, _cap):
        per_src: dict[str, list] = {}
        for r in counts:
            per_src.setdefault(r["source"], []).append((r["__bkt"], r["c"]))
        rows = []
        totals = {}
        for src, bks in per_src.items():
            run = 0
            for bk, cnt in sorted(bks):
                rows.append((src, bk, run))
                run += cnt
            totals[src] = run
        # NULL-source rows must survive both plans identically: the plain
        # window path treats NULL as its own partition, so the bucketed
        # path joins null-safely (eqNullSafe) against the driver-built
        # offset/total tables instead of dropping null keys on the floor.
        odf = df.sparkSession.createDataFrame(
            rows, "__jsrc string, __jbkt long, __off long"
        )
        ndf = df.sparkSession.createDataFrame(
            list(totals.items()), "__nsrc string, __n long"
        )
        w = W.partitionBy("source", "__bkt").orderBy(
            F.col("__r").desc_nulls_last(), F.col("doc_id").asc()
        )
        ranked = (
            b.join(
                F.broadcast(odf),
                F.col("source").eqNullSafe(F.col("__jsrc"))
                & (F.col("__bkt") == F.col("__jbkt")),
            )
            .drop("__jsrc", "__jbkt")
            .join(F.broadcast(ndf), F.col("source").eqNullSafe(F.col("__nsrc")))
            .drop("__nsrc")
            .withColumn("__rank", F.col("__off") + F.row_number().over(w))
            .withColumn(
                "src_pctile",
                F.when(
                    F.col("__n") > 1,
                    (F.col("__rank") - F.lit(1)).cast("double")
                    / (F.col("__n") - F.lit(1)),
                ).otherwise(F.lit(0.0)),
            )
        )
    else:
        ranked = base.withColumn(
            "src_pctile",
            F.percent_rank().over(
                W.partitionBy("source").orderBy(
                    F.col("__r").desc_nulls_last(), F.col("doc_id").asc()
                )
            ),
        )
    return (
        ranked.filter(F.col("src_pctile") <= keep_frac)
        .select("doc_id", "source", "src_pctile")
        .orderBy("doc_id")
    )


def q_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_percentile_gate(table(spark, sf_dir, "documents"))


_STOPLIST_SQL = " + ".join(
    f"len(ws) - len(list_filter(ws, x -> x != '{w}'))"
    for w in "the a and of to in is for on with".split()
)

QUALITY_PERCENTILE_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         {TXT.words_sql()} AS ws
  FROM documents
), scored AS (
  SELECT doc_id, source,
         {_STOPLIST_SQL} AS stop_hits,
         len(ws) AS n_words
  FROM base
), ranked AS (
  SELECT doc_id, source,
         PERCENT_RANK() OVER (
           PARTITION BY source
           ORDER BY CAST(stop_hits AS DOUBLE) / NULLIF(n_words, 0) DESC NULLS LAST,
                    doc_id ASC
         ) AS src_pctile
  FROM scored
)
SELECT doc_id, source, src_pctile
FROM ranked WHERE src_pctile <= {KEEP_FRACTION} ORDER BY doc_id
"""


# --------------------------------------------- round-5 curation funnel

NOVELTY_FLOOR = 0.3


def curation_funnel_v2(
    df: DataFrame,
    novelty_floor: float = NOVELTY_FLOOR,
    keep_frac: float = KEEP_FRACTION,
) -> DataFrame:
    """The round-5 curation FUNNEL: how many documents survive each gate
    of the session's selection chain —

      0. ``all``        — the corpus;
      1. ``novel``      — n-gram novelty ≥ ``novelty_floor``
                          (dedup.ngram_novelty: recombinations of
                          already-seen text drop out);
      2. ``gated``      — ∩ source-normalized quality percentile keep
                          (:func:`quality_percentile_gate`);
      3. ``deduped``    — ∩ exact-content representatives (first id per
                          sha256 wins).

    One row per stage with its survivor count — the at-a-glance yield
    readout a curation run logs per snapshot. Each gate reuses the
    already-verified operator; the funnel adds only semi-joins and one
    union of four 1-row aggregates.
    """
    from wurzel_spark.operators.dedup import ngram_novelty

    from concurrent.futures import ThreadPoolExecutor

    # The corpus frame is NOT checkpointed: checkpointing (doc_id, source,
    # text) would materialize a second copy of the whole corpus on executor
    # local disks at 100 TB, just to avoid a handful of column-pruned
    # parquet re-scans that cost almost nothing. Each gate re-reads the
    # pruned scan instead; only the doc_id GATE SETS below are
    # checkpointed (8 B/row), which is what actually prevents branch 3 of
    # the four-count union plan from re-evaluating novelty and the gate
    # (novelty ~3×, gate ~2× — profiled at 5.2× the oracle in r5).
    docs = df.select("doc_id", "source", "text")
    # The two gates are INDEPENDENT (both read only the pruned corpus
    # scan), so their jobs run concurrently from driver threads: funnel
    # wall time is max(novelty, gate), not the sum (Spark's scheduler
    # interleaves concurrent jobs across the executor cores; at 100 TB
    # each job uses the whole cluster in turn, so concurrency costs
    # nothing and saves the toy-scale job-floor serialization).
    with ThreadPoolExecutor(2) as pool:
        novel_f = pool.submit(
            lambda: ngram_novelty(docs)
            .filter(F.col("novelty") >= novelty_floor)
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        gate_f = pool.submit(
            lambda: quality_percentile_gate(docs, keep_frac)
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        novel_ids = novel_f.result()
        gate_keep = gate_f.result()
    gated_ids = gate_keep.join(novel_ids, "doc_id", "left_semi").localCheckpoint(
        eager=True
    )
    reps = (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped_ids = gated_ids.join(reps, "doc_id", "left_semi")

    def stage(name: str, ids: DataFrame) -> DataFrame:
        return ids.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_docs")
        )

    return (
        stage("0_all", docs.select("doc_id"))
        .unionByName(stage("1_novel", novel_ids))
        .unionByName(stage("2_gated", gated_ids))
        .unionByName(stage("3_deduped", deduped_ids))
        .orderBy("stage")
    )


def q_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_funnel_v2(table(spark, sf_dir, "documents"))


CURATION_FUNNEL_V2_SQL = f"""
WITH sh AS (
  {dedup._SHINGLE_ROWS}
), sizes AS (
  SELECT id, COUNT(*) AS n_shingles FROM sh GROUP BY id
), novel AS (
  SELECT first_id AS id, COUNT(*) AS n_novel
  FROM (SELECT shingle, MIN(id) AS first_id FROM sh GROUP BY shingle)
  GROUP BY first_id
), novel_ids AS (
  SELECT sizes.id AS doc_id FROM sizes LEFT JOIN novel ON sizes.id = novel.id
  WHERE CAST(COALESCE(n_novel, 0) AS DOUBLE) / n_shingles >= {NOVELTY_FLOOR}
), base AS (
  SELECT doc_id, source,
         {TXT.words_sql()} AS ws
  FROM documents
), scored AS (
  SELECT doc_id, source, {_STOPLIST_SQL} AS stop_hits, len(ws) AS n_words FROM base
), ranked AS (
  SELECT doc_id,
         PERCENT_RANK() OVER (
           PARTITION BY source
           ORDER BY CAST(stop_hits AS DOUBLE) / NULLIF(n_words, 0) DESC NULLS LAST,
                    doc_id ASC
         ) AS src_pctile
  FROM scored
), gated_ids AS (
  SELECT r.doc_id FROM ranked r SEMI JOIN novel_ids n ON r.doc_id = n.doc_id
  WHERE src_pctile <= {KEEP_FRACTION}
), reps AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
), deduped_ids AS (
  SELECT g.doc_id FROM gated_ids g SEMI JOIN reps r ON g.doc_id = r.doc_id
)
SELECT * FROM (
  SELECT '0_all' AS stage, COUNT(*) AS n_docs FROM documents
  UNION ALL SELECT '1_novel', COUNT(*) FROM novel_ids
  UNION ALL SELECT '2_gated', COUNT(*) FROM gated_ids
  UNION ALL SELECT '3_deduped', COUNT(*) FROM deduped_ids
) ORDER BY stage
"""


# ------------------------------------------- DoReMi-lite mixture (round 8)

DOREMI_ITERS = 6
DOREMI_ETA = 100  # multiplicative-weights step, permille-of-loss per round
_DOREMI_SCALE = 1_000_000  # weights live in parts-per-million


def doremi_mixture_weights(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Domain-mixture reweighting in the DoReMi shape (Xie et al. 2023):
    start uniform over sources, repeatedly upweight domains with high
    excess loss, renormalize — here with the proxy model's per-domain
    excess loss replaced by a STATIC per-source quality deficit
    (1000 − corpus stopword-density permille, the same integer score the
    sweep/calibration family uses), and the exponentiated-gradient update
    linearized to exact integer multiplicative weights:

        w ← w · (10⁶ + η·loss) div 10⁶ ;  w ← w·10⁶ div Σw

    ``DOREMI_ITERS`` rounds, all floor-div int64 (`div` Spark / `//`
    DuckDB oracle, magnitudes < 1.1·10¹² ≪ 2⁶³) — deterministic,
    partitioning-independent, cross-engine bit-exact.

    Scale shape: ONE corpus pass computes per-source loss sums; the
    iteration then runs on the K-row source table (whole-frame windows
    over metadata-sized data), so 100 TB costs exactly one scan + K·T
    arithmetic. Output: per source, the loss, the final mixture weight
    (ppm), the uniform baseline, and the boost ratio.
    """
    c = F.col(text_col)
    ws = TXT.words(c)
    losses = (
        df.select(
            "source",
            F.size(ws).cast("long").alias("nw"),
            TXT.marker_words_count(c, STOPWORDS).cast("long").alias("sh"),
        )
        .groupBy("source")
        .agg(F.sum("nw").alias("sum_nw"), F.sum("sh").alias("sum_sh"))
        .select(
            "source",
            (F.lit(1000) - TXT.permille("sum_sh", "sum_nw")).cast("long").alias("loss_permille"),
        )
    )
    whole = W.partitionBy()
    it = (
        losses.withColumn("k", F.count(F.lit(1)).over(whole))
        .select(
            "source",
            "loss_permille",
            F.expr(f"{_DOREMI_SCALE} div k").cast("long").alias("w"),
            F.expr(f"{_DOREMI_SCALE} div k").cast("long").alias("uniform_ppm"),
        )
    )
    for _ in range(DOREMI_ITERS):
        it = it.withColumn(
            "w",
            F.expr(
                f"(w * ({_DOREMI_SCALE} + {DOREMI_ETA} * loss_permille))"
                f" div {_DOREMI_SCALE}"
            ).cast("long"),
        ).withColumn("sw", F.sum("w").over(whole)).withColumn(
            "w", F.expr(f"(w * {_DOREMI_SCALE}) div sw").cast("long")
        ).drop("sw")
    return it.select(
        "source",
        "loss_permille",
        F.col("w").alias("weight_ppm"),
        "uniform_ppm",
        F.expr("(1000 * w) div uniform_ppm").cast("long").alias("boost_permille"),
    ).orderBy("source")


def q_doremi_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doremi_mixture_weights(table(spark, sf_dir, "documents"))


def _doremi_sql() -> str:
    head = f"""
WITH base AS (
  SELECT source,
         {TXT.words_sql()} AS ws
  FROM documents
), sums AS (
  SELECT source,
         CAST(SUM(len(ws)) AS BIGINT) AS sum_nw,
         CAST(SUM({TXT.markers_sql('ws', STOPWORDS)}) AS BIGINT) AS sum_sh
  FROM base GROUP BY source
), losses AS (
  SELECT source,
         CAST(1000 - {TXT.permille_sql('sum_sh', 'sum_nw')} AS BIGINT) AS loss_permille
  FROM sums
), it0 AS (
  SELECT source, loss_permille,
         CAST({_DOREMI_SCALE} // COUNT(*) OVER () AS BIGINT) AS w,
         CAST({_DOREMI_SCALE} // COUNT(*) OVER () AS BIGINT) AS uniform_ppm
  FROM losses
)"""
    prev = "it0"
    body = ""
    for t in range(1, DOREMI_ITERS + 1):
        body += f""", u{t} AS (
  SELECT source, loss_permille, uniform_ppm,
         (w * ({_DOREMI_SCALE} + {DOREMI_ETA} * loss_permille)) // {_DOREMI_SCALE} AS w
  FROM {prev}
), it{t} AS (
  SELECT source, loss_permille, uniform_ppm,
         CAST((w * {_DOREMI_SCALE}) // SUM(w) OVER () AS BIGINT) AS w
  FROM u{t}
)"""
        prev = f"it{t}"
    tail = f"""
SELECT source, loss_permille, w AS weight_ppm, uniform_ppm,
       CAST((1000 * w) // uniform_ppm AS BIGINT) AS boost_permille
FROM {prev} ORDER BY source
"""
    return head + body + tail


DOREMI_SQL = _doremi_sql()


# ------------------------------------------------- priority sampling

PRIORITY_K = 64
_PRI_U_RANGE = 1 << 60  # md5-prefix hash range → u uniform in [1, 2^60]


def priority_sample(
    df: DataFrame, weight_col: str = "n_chars", k: int = PRIORITY_K
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup 2007): a FIXED-SIZE
    weighted sample with unbiased subset-sum estimates — the primitive
    for "give me 64 documents whose weights let me estimate any slice's
    token mass" under a hard sample budget, where permille mixture gates
    ([[temperature_mixture_sample]]) can't bound the output size.
    Each row draws priority q = w/u (u uniform from the row's md5-prefix
    hash — deterministic, partitioning-independent, no RNG); the k
    highest-priority rows are the sample and τ = the (k+1)-th priority;
    each sampled row's Horvitz–Thompson term is max(w, τ), so
    Σ max(w, τ) over the sample unbiasedly estimates total corpus weight
    (column est_weight_q3, permille-quantized; the last column lets the
    reader check the estimate against the exact total of THIS corpus).

    Exactness: q scales to floor(w·2^60 / u) in decimal(38,0) Spark /
    HUGEINT DuckDB (w·2^60 passes int64 immediately); ties break on
    doc_id so the order is total. Published priority is DOUBLE (same
    exact integer → same double).

    Scale shape: a global sort-limit TopK — Spark takes per-partition
    top-(k+1) then merges (k+1)·n_partitions rows, never a full sort;
    the τ window runs over k+1 collected-scale rows.

    Split as scorer + tail: top-(k+1) sets form a MERGEABLE semilattice
    (every global top-(k+1) row is in its subset's top-(k+1)), so the
    streaming twin (streaming/priority.py) stages each batch's k+1
    candidates and the drain runs the same tail over their union."""
    return priority_from_scores(priority_scores(df, weight_col), k)


def priority_scores(df: DataFrame, weight_col: str = "n_chars") -> DataFrame:
    """Row-local deterministic priorities (doc_id, source, w, q)."""
    from wurzel_spark.operators.dedup import md5_prefix_hash

    u = md5_prefix_hash(F.col("doc_id").cast("string")) + 1
    # q = floor(w*2^60 / u) computed as two-stage long division:
    #   q = div(w,u)*2^60 + floor((w mod u)*2^60 / u).
    # Spark's `div` on DECIMAL operands returns LONG and silently WRAPS
    # whenever the quotient passes 2^63 (ADVICE r8: div(9*2^60, 1) came
    # back negative) — and a single decimal division overflows
    # DECIMAL(38,6) once the quotient passes 10^32. The split keeps every
    # intermediate in range for the FULL int64 weight domain: div/pmod on
    # longs are exact, (w mod u)*2^60 < 2^120 fits DECIMAL(38,0), its
    # quotient < 2^60 fits the 32 integer digits of the division result,
    # and subtracting pmod first makes that division exact (integral), so
    # the result equals the oracle's HUGEINT `//` bit-for-bit.
    _r1n = f"CAST(pmod(w, u) AS DECIMAL(38,0)) * {_PRI_U_RANGE}"
    q = F.expr(
        f"CAST(CAST(div(w, u) AS DECIMAL(38,0)) * {_PRI_U_RANGE}"
        f" + CAST(({_r1n} - pmod({_r1n}, u)) / u AS DECIMAL(38,0))"
        " AS DECIMAL(38,0))"
    )
    return df.select(
        "doc_id", "source", F.col(weight_col).alias("w"), u.alias("u")
    ).select("doc_id", "source", "w", q.alias("q"))


def priority_from_scores(scored: DataFrame, k: int = PRIORITY_K) -> DataFrame:
    """The top-(k+1) → τ → Horvitz–Thompson tail, shared with the
    streaming drain."""
    top = scored.orderBy(F.col("q").desc(), "doc_id").limit(k + 1)
    w_all = W.orderBy(F.col("q").desc(), "doc_id")
    ranked = top.withColumn("rn", F.row_number().over(w_all))
    tau = ranked.filter(F.col("rn") == k + 1).select(
        F.col("q").alias("tau_q")
    )
    return (
        ranked.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(tau.select(F.coalesce(F.first("tau_q"), F.lit(0)).alias("tau_q"))))
        # ORDER ON THE EXACT decimal q, not the published double: two top
        # priorities above 2^53 can round to the same double and flip the
        # row order vs the oracle's exact sort (review finding, r8)
        .orderBy(F.col("q").desc(), "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("w").cast("long").alias("weight"),
            F.col("q").cast("double").alias("priority_q"),
            # τ is ALREADY in weight units: q_scaled = w·2^60/u_int =
            # w/u_real — the 2^60 cancels against u's own scaling
            F.greatest(
                F.col("w").cast("decimal(38,0)") * 1000,
                F.expr("CAST(tau_q * 1000 AS DECIMAL(38,0))"),
            )
            .cast("double")
            .alias("est_weight_q3"),
        )
    )


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return priority_sample(table(spark, sf_dir, "documents"))


# ------------------------------------- stratified priority sampling

PRIORITY_STRAT_K = 8


def priority_sample_stratified(
    df: DataFrame,
    weight_col: str = "n_chars",
    k: int = PRIORITY_STRAT_K,
    group_col: str = "source",
) -> DataFrame:
    """Per-group priority sampling: an independent fixed-size
    Duffield–Lund–Thorup weighted sample PER SOURCE — the "give every
    domain its own k-row budget" variant of :func:`priority_sample`,
    the shape a per-domain inspection/eval manifest needs (a global
    sample lets one huge domain crowd out every small one). Priorities
    are the SAME row-local deterministic q = w·2^60/u as the global
    sampler (shared :func:`priority_scores`), so a doc's priority does
    not depend on which stratum it lands in; τ and the Horvitz–Thompson
    term max(w, τ_source) are computed per group, giving unbiased
    per-source subset-sum estimates under each group's own budget.

    Scale shape: ONE corpus scan → row_number over (source | q desc,
    doc_id). Spark's InferWindowGroupLimit turns the rn ≤ k+1 filter
    into a partial per-partition top-(k+1)-per-group prune BEFORE the
    exchange (plan-asserted in tests), so the shuffle carries at most
    (k+1)·n_sources·n_input_partitions rows, never the corpus. τ comes
    from a second window over the ≤(k+1)-per-group survivors with the
    SAME partitioning (exchange reused — no join, no second scan).
    Groups with ≤ k rows keep everything with τ=0 (HT term = w exactly,
    the estimator's census degradation), matching the global sampler.
    """
    return priority_stratified_from_scores(
        priority_scores(df, weight_col), k, group_col
    )


def priority_stratified_from_scores(
    scored: DataFrame, k: int = PRIORITY_STRAT_K, group_col: str = "source"
) -> DataFrame:
    """The per-group top-(k+1) → τ → Horvitz–Thompson tail, shared with
    the streaming drain (streaming/priority.py) — per-group top-(k+1)
    sets are a mergeable semilattice exactly like the global sampler's."""
    wg = W.partitionBy(group_col).orderBy(F.col("q").desc(), "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(wg)).filter(
        F.col("rn") <= k + 1
    )
    tau = F.max(
        F.when(F.col("rn") == k + 1, F.col("q")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )
    ).over(W.partitionBy(group_col))
    return (
        ranked.withColumn("tau_q", tau)
        .filter(F.col("rn") <= k)
        .select(
            F.col(group_col),
            "doc_id",
            F.col("w").cast("long").alias("weight"),
            F.col("q").cast("double").alias("priority_q"),
            F.greatest(
                F.col("w").cast("decimal(38,0)") * 1000,
                F.expr("CAST(tau_q * 1000 AS DECIMAL(38,0))"),
            )
            .cast("double")
            .alias("est_weight_q3"),
        )
        .orderBy(group_col, F.col("priority_q").desc(), "doc_id")
    )


def q_priority_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return priority_sample_stratified(table(spark, sf_dir, "documents"))


PRIORITY_STRAT_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, n_chars AS w,
         (CAST(n_chars AS HUGEINT) * {_PRI_U_RANGE})
           // (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1) AS q
  FROM documents
), ranked AS (
  SELECT doc_id, source, w, q,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
  FROM scored
), pruned AS (
  SELECT source, doc_id, w, q, rn,
         MAX(CASE WHEN rn = {PRIORITY_STRAT_K + 1} THEN q ELSE 0 END)
           OVER (PARTITION BY source) AS tau_q
  FROM ranked WHERE rn <= {PRIORITY_STRAT_K + 1}
)
SELECT source, doc_id,
       CAST(w AS BIGINT) AS weight,
       CAST(q AS DOUBLE) AS priority_q,
       CAST(GREATEST(CAST(w AS HUGEINT) * 1000, tau_q * 1000) AS DOUBLE) AS est_weight_q3
FROM pruned
WHERE rn <= {PRIORITY_STRAT_K}
ORDER BY source, priority_q DESC, doc_id
"""


PRIORITY_SAMPLE_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, n_chars AS w,
         (CAST(n_chars AS HUGEINT) * {_PRI_U_RANGE})
           // (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1) AS q
  FROM documents
), ranked AS (
  SELECT doc_id, source, w, q,
         ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn
  FROM scored
), tau AS (
  SELECT COALESCE(MAX(q), 0) AS tau_q FROM ranked WHERE rn = {PRIORITY_K + 1}
)
SELECT r.doc_id, r.source,
       CAST(r.w AS BIGINT) AS weight,
       CAST(r.q AS DOUBLE) AS priority_q,
       CAST(GREATEST(CAST(r.w AS HUGEINT) * 1000,
                     t.tau_q * 1000) AS DOUBLE) AS est_weight_q3
FROM ranked r CROSS JOIN tau t
WHERE r.rn <= {PRIORITY_K}
ORDER BY r.q DESC, r.doc_id
"""
