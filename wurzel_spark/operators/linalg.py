"""Distributed linear algebra over the embedding table: exact-integer
Gram matrix and a quantized power-iteration dominant eigenvector (the
PCA direction a curation pipeline uses for embedding whitening/debiasing
diagnostics, e.g. dominant-component removal before cosine dedup).

Cross-engine exactness: embeddings are float32; each component is
quantized floor(x * 2^20) after an EXACT float→double widening and an
EXACT power-of-two multiply, so the quantized vectors — and every sum of
their products — are bit-identical integers on any engine.  The gram
reduce keeps int64 (bounded: |q| ≤ 2^21 ⇒ a products sum needs rows >
2^21 to threaten 2^63; the registered corpus is 5 orders below, and the
docstring scale path switches to decimal(38,0) first).  The power
iteration renormalizes with TRUNCATING integer division (DuckDB ``//``
semantics: -7//2 = -3, unlike Python's floor) — `_tdiv` mirrors it
exactly, so 8 iterations stay bit-equal to the unrolled SQL oracle.

Scale shape: the gram is ONE map stage — each partition reduces itself
to a d×d partial gram in a vectorized numpy int64 matmul (Arrow-batched
mapInPandas; no self-join, no exploded-table shuffle) — and the shuffle
carries O(d² · n_partitions) rows however large the corpus is.  The
eigensolve then runs driver-side on the d×d result — bounded by
DIMENSION, not data, so it needs no size gate (kmeans_train's driver
Lloyd, by contrast, is gated on n·dim elements).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.operators.common import parallelize
from wurzel_spark.tables import table

QSCALE = 1 << 20
PCA_ITERS = 8
_MAX_GRAM_DIM = 256  # driver-side eigensolve gate: d² rows collected


def embedding_gram_matrix(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Upper-triangle Gram matrix (i, j, s), 1-based, s = Σ_rows q_i·q_j
    exact int64.  Each partition reduces to its own d×d partial gram
    inside ONE vectorized numpy int64 matmul (Arrow-batched kernel —
    replaced an interpreted HOF pair explode measured 13× the oracle at
    sf0.1; the kernel is also the true scale shape: the shuffle carries
    d(d+1)/2 rows PER PARTITION, never per row, so corpus size only
    widens the map stage).  numpy int64 arithmetic wraps on overflow
    rather than raising — the |q| ≤ 2²¹ bound in the module docstring is
    the guard; the decimal(38,0) escalation applies before any corpus
    large enough to threaten it."""
    import numpy as np
    import pandas as pd

    iu_cache: dict[int, tuple] = {}

    def _partial(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * QSCALE).astype(np.int64)
            g = q.T @ q  # exact int64 within the documented bound
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        if d not in iu_cache:
            iu_cache[d] = np.triu_indices(d)
        ii, jj = iu_cache[d]
        yield pd.DataFrame(
            {
                "i": (ii + 1).astype(np.int32),
                "j": (jj + 1).astype(np.int32),
                "s": acc[ii, jj],
            }
        )

    partials = parallelize(df.select(vec_col)).mapInPandas(
        _partial, "i int, j int, s long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .orderBy("i", "j")
    )


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — DuckDB ``//`` and
    Spark ``div`` semantics, NOT Python ``//`` (which floors)."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def embedding_pca_power(
    df: DataFrame,
    iters: int = PCA_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Dominant eigenvector of the Gram matrix by ``iters`` quantized
    power iterations: G' = G // 2^20 (truncating), v0 = 2^20·1, each step
    u = G'v, v = (u · 2^20) // max|u| — every operation exact integer
    arithmetic, bit-equal to the unrolled SQL oracle.  Output: (i, v,
    growth) with v the 2^20-scaled eigenvector component and growth the
    final pre-normalization magnitude max|u| (the scaled dominant-
    eigenvalue readout)."""
    rows = embedding_gram_matrix(df, vec_col, id_col).collect()
    dims = {r["i"] for r in rows} | {r["j"] for r in rows}
    d = max(dims) if dims else 0
    if d > _MAX_GRAM_DIM:
        raise ValueError(
            f"gram dimension {d} exceeds the driver eigensolve gate "
            f"{_MAX_GRAM_DIM}; raise _MAX_GRAM_DIM deliberately or reduce dims"
        )
    spark = df.sparkSession
    if d == 0:
        return spark.createDataFrame([], "i int, v long, growth long")
    G = [[0] * d for _ in range(d)]
    for r in rows:
        g = _tdiv(r["s"], QSCALE)
        G[r["i"] - 1][r["j"] - 1] = g
        G[r["j"] - 1][r["i"] - 1] = g
    v = [QSCALE] * d
    m = 1
    for _ in range(iters):
        u = [sum(G[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in u)
        if m == 0:  # zero matrix: stay at the start vector
            break
        v = [_tdiv(x * QSCALE, m) for x in u]  # exact big-int, then bounded
    out = [(i + 1, v[i], m) for i in range(d)]
    return spark.createDataFrame(out, "i int, v long, growth long").orderBy("i")


def embedding_projection_stats(
    df: DataFrame,
    iters: int = PCA_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector dominant-component diagnostics: norm2 = Σ q_i² and
    proj = Σ q_i·v_i against the power-iteration eigenvector — the
    readout behind embedding whitening / dominant-direction removal
    (a corpus whose proj² ≈ norm2·‖v‖²/2⁴⁰ everywhere is rank-collapsed
    and cosine near-dup thresholds need retuning).  Exact int64
    everywhere (|proj| ≤ d·2²¹·2²⁰ ≈ 2⁴⁷).

    Scale shape: one bounded driver eigensolve (embedding_pca_power),
    then ONE vectorized map pass with the d-vector broadcast in the
    kernel closure — no shuffle at all."""
    import numpy as np
    import pandas as pd

    vrows = embedding_pca_power(df, iters, vec_col, id_col).collect()
    varr = np.array(
        [r["v"] for r in sorted(vrows, key=lambda r: r["i"])], dtype=np.int64
    )

    def _k(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * QSCALE).astype(np.int64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "norm2": (q * q).sum(axis=1),
                    "proj": q @ varr,
                }
            )

    return (
        parallelize(df.select(id_col, vec_col))
        .mapInPandas(_k, f"{id_col} long, norm2 long, proj long")
        .orderBy(id_col)
    )


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_gram_matrix(table(spark, sf_dir, "embeddings"))


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_pca_power(table(spark, sf_dir, "embeddings"))


def q_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_projection_stats(table(spark, sf_dir, "embeddings"))


_Q_SQL = (
    "list_transform(CAST(embedding AS DOUBLE[]),"
    f" x -> CAST(floor(x * {QSCALE}) AS BIGINT))"
)

# Exploded (vec_id, i, qv) form: ONE list indexing per element.  The
# qs[a.i]·qs[b.j] double-unnest form re-evaluates the quantization
# lambda per (i, j) pair — measured 60× slower — and an un-MATERIALIZED
# gram CTE is re-executed by every power-iteration stage.
_QE_SQL = f"""
  SELECT vec_id, CAST(u.i AS INT) AS i, qs[u.i] AS qv
  FROM (SELECT vec_id, {_Q_SQL} AS qs FROM embeddings) q,
       UNNEST(range(1, len(qs) + 1)) AS u(i)
"""

EMBEDDING_GRAM_SQL = f"""
WITH qe AS MATERIALIZED ({_QE_SQL})
SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS s
FROM qe a JOIN qe b ON b.vec_id = a.vec_id AND b.i >= a.i
GROUP BY a.i, b.i ORDER BY i, j
"""


def _pca_cte_parts(iters: int = PCA_ITERS) -> list[str]:
    """Shared CTE chain for the PCA-family oracles: quantized exploded
    embeddings → full gram → ``iters`` unrolled matvec+renormalize
    stages.  The renormalize runs in HUGEINT (u·2^20 can exceed int64)
    with DuckDB's native truncating ``//`` — the same semantics `_tdiv`
    implements driver-side."""
    parts = [
        f"qe AS MATERIALIZED ({_QE_SQL})",
        """gram AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS s
  FROM qe a JOIN qe b ON b.vec_id = a.vec_id
  GROUP BY a.i, b.i
)""",
        f"gs AS MATERIALIZED (SELECT i, j, s // {QSCALE} AS g FROM gram)",
        f"v0 AS (SELECT DISTINCT i, CAST({QSCALE} AS BIGINT) AS v FROM gs)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""u{t} AS MATERIALIZED (
  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS u
  FROM gs g JOIN v{t - 1} v ON v.i = g.j GROUP BY g.i
)"""
        )
        parts.append(f"m{t} AS MATERIALIZED (SELECT MAX(ABS(u)) AS m FROM u{t})")
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT i, CAST((CAST(u AS HUGEINT) * {QSCALE}) // (SELECT m FROM m{t}) AS BIGINT) AS v
  FROM u{t}
)"""
        )
    return parts


def _pca_unrolled_sql(iters: int = PCA_ITERS) -> str:
    ctes = ",\n".join(_pca_cte_parts(iters))
    return f"""
WITH {ctes}
SELECT v.i AS i, v.v AS v, CAST((SELECT m FROM m{iters}) AS BIGINT) AS growth
FROM v{iters} v ORDER BY v.i
"""


def _projection_sql(iters: int = PCA_ITERS) -> str:
    ctes = ",\n".join(_pca_cte_parts(iters))
    return f"""
WITH {ctes}
SELECT e.vec_id AS vec_id,
       CAST(SUM(e.qv * e.qv) AS BIGINT) AS norm2,
       CAST(SUM(e.qv * v.v) AS BIGINT) AS proj
FROM qe e JOIN v{iters} v ON v.i = e.i
GROUP BY e.vec_id ORDER BY e.vec_id
"""


EMBEDDING_PCA_SQL = _pca_unrolled_sql()
EMBEDDING_PROJECTION_SQL = _projection_sql()


# ---------------------------------------------- embedding norm outliers

NORM_OUTLIER_K = 3  # the house MAD multiplier (events.ANOMALY_MAD_K)


def embedding_norm_outliers(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Embedding QA gate run before any vector index build: per label,
    a robust (median + MAD, 50% breakdown) outlier count over the
    squared-norm distribution — truncated writes, wrong-scale batches,
    and zero vectors all land in the far tail of ‖v‖², and a mean/std
    gate would let a bad batch drag its own threshold.

    Exactness: components quantize floor(x·2^20) (the [[linalg]] gram
    convention), CLAMPED to ±2^31 so each squared term fits int64 even
    for the wrong-scale batches this gate exists to catch (a clamped
    term still lands in the far tail, which is all the gate needs), and
    ‖v‖²_q accumulates in decimal(38,0) Spark-side / HUGEINT
    oracle-side — the house wide-integer convention, because the SUM of
    int64-safe terms can itself pass 2^63 at high dimension. Norms then
    map to a 0..1000 permille-of-label-max scale ``b`` and the whole
    median/MAD/gate battery runs on the ≤1001-row per-label HISTOGRAM —
    the score_label_hist trick: order statistics become cumulative sums
    over metadata-sized rows, never a corpus-wide sort. Median/MAD use
    the house rank-ceil convention (events.anomalies_from_hourly);
    the gate ``adev > K·mad`` is strict, so a zero-MAD (constant-norm)
    label flags ANY deviation — the behavior you want from a QA gate.
    ``max_norm2q`` is published as DOUBLE (both engines round the same
    exact integer to the same double).

    Scale shape: TWO corpus passes by design — the per-label max pass,
    then the rescale+histogram pass (the same two-phase shape as
    quality_percentile_gate; materializing the corpus-grain n2 table to
    save the second scan is the ccnet-documented trap). The label-grain
    ``mx`` and the ≤1001-row-per-label histogram are localCheckpointed
    because FIVE downstream subtrees consume them — without the cut each
    consumer would re-run its own corpus scan (measured: 7 scans → 2).
    Everything above the histogram is metadata-sized."""
    from pyspark.sql import Window as W

    i32max = F.lit((1 << 31) - 1).cast("long")
    i32min = F.lit(-(1 << 31)).cast("long")
    qs = F.transform(
        F.col(vec_col),
        lambda x: F.greatest(
            F.least(F.floor(x.cast("double") * QSCALE).cast("long"), i32max),
            i32min,
        ),
    )
    n2 = F.aggregate(
        qs,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + (x * x).cast("decimal(38,0)"),
    )
    # vectors with NULL elements are EXCLUDED from the norm battery:
    # least/greatest SKIP NULLs in both engines, so the clamp would turn
    # one NULL component into a +2^31 term that makes the corrupt vector
    # the label max and wrecks everyone else's permille scale (review
    # finding, r8). EMPTY vectors are excluded too: DuckDB's list_sum([])
    # is NULL while F.aggregate's 0-seed fold returns 0, so an empty
    # vector would land in bucket b=NULL oracle-side vs b=0 Spark-side
    # and shift every cumulative rank for the label (ADVICE r8).
    # NULL-element and empty vectors belong to embedding_nan_stats'
    # n_null / dim accounting, not this gate.
    per = df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) > 0)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(label_col).alias("label"), n2.alias("n2"))
    mx = per.groupBy("label").agg(
        F.max("n2").alias("max_norm2q"), F.count(F.lit(1)).alias("n_vectors")
    ).localCheckpoint(eager=True)  # label-grain; feeds b, med, mad, output
    b = per.join(F.broadcast(mx), "label").select(
        "label",
        F.when(
            F.col("max_norm2q") > 0,
            F.expr("CAST(div(n2 * 1000, max_norm2q) AS BIGINT)"),
        )
        .otherwise(F.lit(0))
        .alias("b"),
    )
    hist = (
        b.groupBy("label", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # ≤1001 rows/label; feeds med, devh, flags
    )
    wl = W.partitionBy("label")
    rk = F.ceil(F.col("n_vectors") / 2).cast("long")
    ranked = hist.withColumn("cum", F.sum("c").over(wl.orderBy("b"))).join(
        F.broadcast(mx), "label"
    )
    med = (
        ranked.filter(F.col("cum") >= rk)
        .groupBy("label")
        .agg(F.min("b").alias("median_b"))
    )
    devh = (
        hist.join(F.broadcast(med), "label")
        .groupBy("label", F.abs(F.col("b") - F.col("median_b")).alias("adev"))
        .agg(F.sum("c").alias("c"))
    )
    dranked = devh.withColumn("cum", F.sum("c").over(wl.orderBy("adev"))).join(
        F.broadcast(mx), "label"
    )
    mad = (
        dranked.filter(F.col("cum") >= rk)
        .groupBy("label")
        .agg(F.min("adev").alias("mad_b"))
    )
    flags = (
        hist.join(F.broadcast(med), "label")
        .join(F.broadcast(mad), "label")
        .select(
            "label",
            "c",
            F.abs(F.col("b") - F.col("median_b")).alias("adev"),
            "mad_b",
        )
        .groupBy("label")
        .agg(
            F.sum(
                F.when(
                    F.col("adev") > NORM_OUTLIER_K * F.col("mad_b"), F.col("c")
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
            F.max("adev").alias("max_abs_dev"),
        )
    )
    return (
        mx.join(med, "label")
        .join(mad, "label")
        .join(flags, "label")
        .select(
            "label",
            "n_vectors",
            F.col("max_norm2q").cast("double").alias("max_norm2q"),
            "median_b",
            "mad_b",
            "n_outliers",
            "max_abs_dev",
        )
        .orderBy("label")
    )


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_norm_outliers(table(spark, sf_dir, "embeddings"))


NORM_OUTLIERS_SQL = f"""
WITH per AS (
  SELECT label,
         list_sum(list_transform(
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> GREATEST(LEAST(CAST(floor(x * {QSCALE}) AS BIGINT),
                                              2147483647), -2147483648)),
           q -> CAST(q AS HUGEINT) * q)) AS n2
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(embedding) > 0
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), mx AS (
  SELECT label, MAX(n2) AS max_norm2q,
         COUNT(*) AS n_vectors
  FROM per GROUP BY label
), scored AS (
  SELECT per.label,
         CASE WHEN mx.max_norm2q > 0
              THEN CAST((per.n2 * 1000) // mx.max_norm2q AS BIGINT)
              ELSE 0 END AS b
  FROM per JOIN mx ON per.label = mx.label
), hist AS (
  SELECT label, b, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY label, b
), ranked AS (
  SELECT h.label, h.b, h.c,
         SUM(h.c) OVER (PARTITION BY h.label ORDER BY h.b) AS cum,
         mx.n_vectors
  FROM hist h JOIN mx ON h.label = mx.label
), med AS (
  SELECT label, CAST(MIN(b) AS BIGINT) AS median_b FROM ranked
  WHERE cum >= CAST(CEIL(n_vectors / 2.0) AS BIGINT) GROUP BY label
), devh AS (
  SELECT h.label, ABS(h.b - m.median_b) AS adev, CAST(SUM(h.c) AS BIGINT) AS c
  FROM hist h JOIN med m ON h.label = m.label
  GROUP BY h.label, ABS(h.b - m.median_b)
), dranked AS (
  SELECT d.label, d.adev, d.c,
         SUM(d.c) OVER (PARTITION BY d.label ORDER BY d.adev) AS cum,
         mx.n_vectors
  FROM devh d JOIN mx ON d.label = mx.label
), mad AS (
  SELECT label, CAST(MIN(adev) AS BIGINT) AS mad_b FROM dranked
  WHERE cum >= CAST(CEIL(n_vectors / 2.0) AS BIGINT) GROUP BY label
), flags AS (
  SELECT h.label,
         CAST(SUM(CASE WHEN ABS(h.b - m.median_b) > {NORM_OUTLIER_K} * x.mad_b
                       THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers,
         CAST(MAX(ABS(h.b - m.median_b)) AS BIGINT) AS max_abs_dev
  FROM hist h JOIN med m ON h.label = m.label
              JOIN mad x ON h.label = x.label
  GROUP BY h.label
)
SELECT mx.label, mx.n_vectors, CAST(mx.max_norm2q AS DOUBLE) AS max_norm2q,
       med.median_b, mad.mad_b, flags.n_outliers, flags.max_abs_dev
FROM mx JOIN med ON mx.label = med.label
        JOIN mad ON mx.label = mad.label
        JOIN flags ON mx.label = flags.label
ORDER BY mx.label
"""


# ------------------------------------------------ embedding nan audit

def embedding_nan_stats(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """The cheap half of the embedding QA battery (the robust-norm gate
    [[embedding_norm_outliers]] is the statistical half): per label,
    counts of NULL vectors, vectors containing NaN, containing ±Inf,
    exactly-zero vectors, and the dim range (min_dim ≠ max_dim = a
    ragged batch — a truncated write or a mixed-model ingest). Every
    one of these poisons a downstream index silently: NaN cosines
    compare false everywhere, zero vectors divide by zero in
    normalization, ragged dims crash a C++ ANN loader at load time —
    all cheaper to catch at ingest than at serve.

    Row-local EXISTS/forall over the array + one per-label aggregate;
    all counts exact integers."""
    v = F.col(vec_col)
    has_nan = F.exists(v, lambda x: F.isnan(x))
    has_inf = F.exists(v, lambda x: F.abs(x) == float("inf"))
    # the NULL-element predicate is explicit: forall(x == 0.0) over
    # [0.0, NULL] is NULL (→ coalesced false) in Spark while the oracle's
    # list_filter drops the NULL verdict and would call it zero — the
    # same three-valued-logic divergence class as the checksum fix. A
    # vector counts as zero only if every element IS non-NULL zero.
    is_zero = F.forall(v, lambda x: x.isNotNull() & (x == 0.0)) & (F.size(v) > 0)
    per = df.select(
        F.col(label_col).alias("label"),
        v.isNull().cast("long").alias("is_null"),
        F.coalesce(has_nan, F.lit(False)).cast("long").alias("has_nan"),
        F.coalesce(has_inf, F.lit(False)).cast("long").alias("has_inf"),
        F.coalesce(is_zero, F.lit(False)).cast("long").alias("is_zero"),
        F.coalesce(F.size(v), F.lit(-1)).alias("dim"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("is_null").alias("n_null"),
            F.sum("has_nan").alias("n_nan"),
            F.sum("has_inf").alias("n_inf"),
            F.sum("is_zero").alias("n_zero"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
        )
        .select(
            "label", "n_vectors", "n_null", "n_nan", "n_inf", "n_zero",
            F.col("min_dim").cast("long").alias("min_dim"),
            F.col("max_dim").cast("long").alias("max_dim"),
        )
        .orderBy("label")
    )


def q_embedding_nan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_nan_stats(table(spark, sf_dir, "embeddings"))


NAN_STATS_SQL = """
WITH per AS (
  SELECT label,
         CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
         CASE WHEN embedding IS NOT NULL
               AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> isnan(x))) > 0
              THEN 1 ELSE 0 END AS has_nan,
         CASE WHEN embedding IS NOT NULL
               AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> isinf(x))) > 0
              THEN 1 ELSE 0 END AS has_inf,
         CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
               AND len(list_filter(CAST(embedding AS DOUBLE[]),
                                   x -> x IS NULL OR x != 0.0)) = 0
              THEN 1 ELSE 0 END AS is_zero,
         COALESCE(len(embedding), -1) AS dim
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(is_null) AS BIGINT) AS n_null,
       CAST(SUM(has_nan) AS BIGINT) AS n_nan,
       CAST(SUM(has_inf) AS BIGINT) AS n_inf,
       CAST(SUM(is_zero) AS BIGINT) AS n_zero,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim
FROM per GROUP BY label ORDER BY label
"""


# ------------------------------------------- per-label centroid geometry

CENTROID_DIM = 64  # the embeddings table's dimension


def embedding_centroid_stats(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid geometry: the quantized mean vector's squared
    norm plus the average and minimum cosine of members to their own
    centroid — the collapse/dispersion readout of an embedding space
    (avg_cos → 1000·QSCALE⁻¹-scale means the label collapsed to a point:
    mode collapse or duplicated inputs; a very low min_cos flags members
    that don't belong). Complements [[embedding_norm_outliers]] (scale
    defects) with DIRECTION defects.

    Exactness: components quantize once (floor(x·2^20), the QSCALE
    convention, ±2^31 clamp); per-dim centroid sums and every dot/norm
    accumulate in decimal(38,0)/HUGEINT (the r8 norm-outlier lesson: a
    wrong-scale batch must not be able to wrap the very gate that
    exists to catch it); centroid components are floor-divided via the
    pmod identity (components go NEGATIVE, where Spark div truncates
    but DuckDB // floors); the single cos division runs in doubles cast
    from exact integers — identical IEEE ops both engines — and
    quantizes once.

    Scale shape: TWO corpus passes by design (sum pass → rescale pass
    against the broadcast label-grain centroid table), like the
    percentile/norm gates; the per-dim aggregate is 64 sum columns over
    one scan — no explode, map-side combine keeps the exchange at
    |labels|·64 integers."""
    i32max = F.lit((1 << 31) - 1).cast("long")
    i32min = F.lit(-(1 << 31)).cast("long")
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.greatest(
            F.least(F.floor(x.cast("double") * QSCALE).cast("long"), i32max),
            i32min,
        ),
    )
    base = df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == CENTROID_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(label_col).alias("label"), qv.alias("qv"))
    sums = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        *[
            # cast INSIDE the sum: a LONG accumulator wraps around
            # n ≈ 2^63/2^21 ≈ 4.4e12 rows — within reach of a 100 TB
            # embedding table (the r8 norm-outlier lesson); DuckDB's
            # SUM(BIGINT) is HUGEINT automatically
            F.sum(F.element_at("qv", i + 1).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"s{i}")
            for i in range(CENTROID_DIM)
        ],
    )
    # centroid component = s_i div n — TRUNCATING division, matching
    # DuckDB // exactly for the negative sums too (_tdiv convention);
    # quotients are component-scale (≤ 2^31) so div cannot wrap
    cent = sums.select(
        "label",
        "n_vectors",
        F.array(
            *[
                F.expr(f"CAST(div(s{i}, n_vectors) AS LONG)")
                for i in range(CENTROID_DIM)
            ]
        ).alias("cv"),
    ).localCheckpoint(eager=True)  # label-grain; feeds the rescale pass + output
    n2c = F.aggregate(
        F.col("cv"),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + (x * x).cast("decimal(38,0)"),
    )
    scored = base.join(F.broadcast(cent), "label").select(
        "label",
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: a * b),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x.cast("decimal(38,0)"),
        ).alias("dot"),
        F.aggregate(
            "qv",
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + (x * x).cast("decimal(38,0)"),
        ).alias("n2v"),
        n2c.alias("n2c"),
    )
    cos_q = F.when(
        (F.col("n2v") > 0) & (F.col("n2c") > 0),
        F.floor(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("n2v").cast("double")) * F.sqrt(F.col("n2c").cast("double")))
            * QSCALE
        ).cast("long"),
    ).otherwise(F.lit(0))
    stats = (
        scored.select("label", cos_q.alias("cos_q"))
        .groupBy("label")
        .agg(
            # decimal accumulator: Σ cos_q over a label wraps LONG at
            # n ≈ 2^43 members — same guard as the per-dim sums
            F.sum(F.col("cos_q").cast("decimal(38,0)")).alias("sum_cos_q"),
            F.min("cos_q").alias("min_cos_q"),
        )
    )
    return (
        cent.select("label", "n_vectors", n2c.cast("double").alias("centroid_norm2q"))
        .join(stats, "label")
        .select(
            "label",
            "n_vectors",
            "centroid_norm2q",
            F.expr("CAST(div(sum_cos_q, n_vectors) AS LONG)").alias(
                "avg_cos_q"
            ),
            "min_cos_q",
        )
        .orderBy("label")
    )


def q_embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_centroid_stats(table(spark, sf_dir, "embeddings"))


def _centroid_sql() -> str:
    qx = (
        f"GREATEST(LEAST(CAST(floor(embedding[i + 1] * {QSCALE}) AS BIGINT),"
        " 2147483647), -2147483648)"
    )
    return f"""
WITH base AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS embedding
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {CENTROID_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), dimsums AS (
  SELECT label, t.i, CAST(SUM({qx}) AS HUGEINT) AS s
  FROM base, range({CENTROID_DIM}) t(i)
  GROUP BY label, t.i
), ns AS (
  SELECT label, COUNT(*) AS n_vectors FROM base GROUP BY label
), cent AS (
  SELECT d.label, n.n_vectors,
         list(CAST(d.s // n.n_vectors AS BIGINT) ORDER BY d.i) AS cv
  FROM dimsums d JOIN ns n ON d.label = n.label
  GROUP BY d.label, n.n_vectors
), centn AS (
  SELECT label, n_vectors, cv,
         list_sum(list_transform(cv, x -> CAST(x AS HUGEINT) * x)) AS n2c
  FROM cent
), scored AS (
  SELECT b.label,
         list_sum(list_transform(range({CENTROID_DIM}), i ->
           CAST({qx.replace("i + 1", "CAST(i AS INT) + 1")} AS HUGEINT)
           * c.cv[CAST(i AS INT) + 1])) AS dot,
         list_sum(list_transform(range({CENTROID_DIM}), i ->
           CAST({qx.replace("i + 1", "CAST(i AS INT) + 1")} AS HUGEINT)
           * {qx.replace("i + 1", "CAST(i AS INT) + 1")})) AS n2v,
         c.n2c
  FROM base b JOIN centn c ON b.label = c.label
), cosd AS (
  SELECT label,
         CASE WHEN n2v > 0 AND n2c > 0
              THEN CAST(floor(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(n2v AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE)))
                   * {QSCALE}) AS BIGINT)
              ELSE 0 END AS cos_q
  FROM scored
), stats AS (
  SELECT label, CAST(SUM(cos_q) AS HUGEINT) AS sum_cos_q,
         CAST(MIN(cos_q) AS BIGINT) AS min_cos_q
  FROM cosd GROUP BY label
)
SELECT c.label, CAST(c.n_vectors AS BIGINT) AS n_vectors,
       CAST(c.n2c AS DOUBLE) AS centroid_norm2q,
       CAST(s.sum_cos_q // c.n_vectors AS BIGINT) AS avg_cos_q,
       s.min_cos_q
FROM centn c JOIN stats s ON c.label = s.label
ORDER BY c.label
"""


CENTROID_STATS_SQL = _centroid_sql()


# ------------------------------------------ Fisher label separability

FISHER_QSCALE = 1 << 10  # coarser than QSCALE: s² must stay inside 10³⁸


def fisher_separability_stats(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Fisher separability of labels in embedding space: the trace ratio
    of between-label to within-label scatter — the multivariate ANOVA
    (``length_anova_stats``' algebra lifted to 64 dims) answering the
    question every classifier-on-embeddings project asks first: do the
    labels separate AT ALL in this space?  η² ≈ 0 means the embedding
    carries no label signal and the downstream probe will learn noise;
    [[embedding_centroid_stats]] shows each label's own geometry, this
    scores the between-vs-within contrast in one number.

    Exactness: components quantize ONCE at 2¹⁰ (coarser than the
    centroid family's 2²⁰ — per-label component sums get SQUARED here,
    and n²·2²⁰ < 10³⁸ holds past 10¹⁵ vectors per label where the 2²⁰
    scale would wrap at 3·10⁸; the ESS trade-down precedent); scatter
    splits clear each label's ``s²/n`` with one floor-div (the χ²/ANOVA
    convention, GREATEST-clamped); the trace sums are exact integers
    and the two emitted ratios are floor-div permilles.

    Scale shape: ONE corpus pass to (label × 64 per-dim sum/square)
    columns (map-side combinable, no explode of corpus rows — the
    exchange carries |labels|·129 integers), then (labels·64)-row tail
    algebra."""
    from pyspark.sql import functions as F

    base = df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == CENTROID_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & F.col(label_col).isNotNull()
    ).select(F.col(label_col).alias("lbl"), F.col(vec_col).alias("v"))

    def qx(d: int):
        return F.expr(
            f"GREATEST(LEAST(CAST(floor(v[{d}] * {FISHER_QSCALE}) AS BIGINT),"
            f" 2147483647), -2147483648)"
        )

    lbl = base.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_l"),
        F.array(*[F.sum(qx(d).cast("decimal(38,0)")).cast("decimal(38,0)")
                  for d in range(CENTROID_DIM)]).alias("s_arr"),
        F.array(*[
            F.sum((qx(d) * qx(d)).cast("decimal(38,0)")).cast("decimal(38,0)")
            for d in range(CENTROID_DIM)
        ]).alias("s2_arr"),
    )
    dims = lbl.select(
        "lbl",
        "n_l",
        F.posexplode(F.arrays_zip("s_arr", "s2_arr")).alias("d", "z"),
    ).select(
        "lbl",
        "n_l",
        "d",
        F.col("z.s_arr").alias("s"),
        F.col("z.s2_arr").alias("s2"),
    )
    per_dim = dims.groupBy("d").agg(
        F.sum(F.expr("div(s * s, n_l)")).alias("gsum"),
        F.sum("s").alias("sd"),
        F.sum("s2").alias("s2d"),
        F.sum("n_l").alias("n"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
    )
    split = per_dim.select(
        "k",
        "n",
        F.expr("CAST(greatest(gsum - div(sd * sd, n), 0) AS DECIMAL(38,0))").alias(
            "ssb_d"
        ),
        F.expr("CAST(s2d - gsum AS DECIMAL(38,0))").alias("ssw_d"),
    )
    tail = split.groupBy().agg(
        F.max("k").cast("long").alias("n_labels"),
        F.max("n").cast("long").alias("n_vectors"),
        F.sum("ssb_d").alias("ssb"),
        F.sum("ssw_d").alias("ssw"),
        F.max("k").alias("kd"),
        F.max("n").alias("nd"),
    )
    return tail.select(
        "n_labels",
        "n_vectors",
        F.col("ssb").cast("long").alias("trace_between"),
        F.col("ssw").cast("long").alias("trace_within"),
        F.expr(
            "CAST(CASE WHEN ssb + ssw > 0 THEN div(1000 * ssb, ssb + ssw)"
            " END AS BIGINT)"
        ).alias("eta2_permille"),
        F.expr(
            "CAST(CASE WHEN kd > 1 AND ssw > 0"
            " THEN div(1000 * ssb * (nd - kd), ssw * (kd - 1))"
            " END AS BIGINT)"
        ).alias("f_permille"),
    )


def q_fisher_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fisher_separability_stats(table(spark, sf_dir, "embeddings"))


def _fisher_sql() -> str:
    qx = (
        f"GREATEST(LEAST(CAST(floor(embedding[i + 1] * {FISHER_QSCALE}) AS BIGINT),"
        " 2147483647), -2147483648)"
    )
    return f"""
WITH base AS (
  SELECT label AS lbl, CAST(embedding AS DOUBLE[]) AS embedding
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {CENTROID_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND label IS NOT NULL
), dimsums AS (
  SELECT lbl, t.i AS d,
         CAST(COUNT(*) AS HUGEINT) AS n_l,
         CAST(SUM({qx}) AS HUGEINT) AS s,
         CAST(SUM(CAST({qx} AS HUGEINT) * {qx}) AS HUGEINT) AS s2
  FROM base, range({CENTROID_DIM}) t(i)
  GROUP BY lbl, t.i
), per_dim AS (
  SELECT d,
         SUM((s * s) // n_l) AS gsum,
         SUM(s) AS sd,
         SUM(s2) AS s2d,
         SUM(n_l) AS n,
         CAST(COUNT(*) AS HUGEINT) AS k
  FROM dimsums GROUP BY d
), split AS (
  SELECT k, n,
         GREATEST(gsum - (sd * sd) // n, 0) AS ssb_d,
         s2d - gsum AS ssw_d
  FROM per_dim
), tail AS (
  SELECT CAST(MAX(k) AS BIGINT) AS n_labels,
         CAST(MAX(n) AS BIGINT) AS n_vectors,
         SUM(ssb_d) AS ssb, SUM(ssw_d) AS ssw,
         MAX(k) AS kd, MAX(n) AS nd
  FROM split
)
SELECT n_labels, n_vectors,
       CAST(ssb AS BIGINT) AS trace_between,
       CAST(ssw AS BIGINT) AS trace_within,
       CAST(CASE WHEN ssb + ssw > 0 THEN (1000 * ssb) // (ssb + ssw)
            END AS BIGINT) AS eta2_permille,
       CAST(CASE WHEN kd > 1 AND ssw > 0
            THEN (1000 * ssb * (nd - kd)) // (ssw * (kd - 1))
            END AS BIGINT) AS f_permille
FROM tail
"""


FISHER_SQL = _fisher_sql()


# ------------------------------------------ exact duplicate vectors


def embedding_exact_dups(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact duplicate-vector audit: groups of bit-identical embeddings
    — the cheapest and most damning embedding-pipeline defect check
    (a stuck encoder, a default-vector fallback, or duplicated inputs
    all land as one vector repeated thousands of times;
    [[embedding_centroid_stats]]' avg_cos ≈ 1 hints at it, this NAMES
    the offending groups).  One row per duplicate group: size, the
    smallest member id as the group key, and the span of member ids
    (a tight span = an ingest loop; a wide span = a systemic default).

    Exactness: grouping is on the raw float ARRAY (bit equality — no
    quantization, no tolerance: 'exact' means exact; NULL-element and
    wrong-dim vectors are excluded and would fail bit-grouping anyway).

    Scale shape: one groupBy on the vector column (the shuffle carries
    each distinct vector once per partition after map-side combine),
    filtered to groups > 1 — output is defect-sized."""
    base = df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == CENTROID_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        base.groupBy("vec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("id").cast("long").alias("group_id"),
            F.max("id").cast("long").alias("max_id"),
        )
        .filter(F.col("n_members") > 1)
        .select(
            "group_id",
            "n_members",
            (F.col("max_id") - F.col("group_id")).alias("id_span"),
        )
        .orderBy(F.desc("n_members"), "group_id")
    )


def q_embedding_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_exact_dups(table(spark, sf_dir, "embeddings"))


EMBEDDING_DUPS_SQL = f"""
WITH base AS (
  SELECT vec_id AS id, embedding AS vec
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {CENTROID_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), groups AS (
  SELECT CAST(MIN(id) AS BIGINT) AS group_id,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(MAX(id) - MIN(id) AS BIGINT) AS id_span
  FROM base GROUP BY vec
)
SELECT group_id, n_members, id_span
FROM groups WHERE n_members > 1
ORDER BY n_members DESC, group_id
"""


# ------------------------------------------ embedding anisotropy


def embedding_anisotropy(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Anisotropy of the embedding space (Ethayarajh 2019's diagnostic):
    the average pairwise dot product relative to the average self dot —
    near 0 the directions spread (healthy); approaching 1000 the whole
    space points one way (the contextual-embedding cone; a mean-centered
    re-projection is indicated before ANY cosine-based op —
    [[semdedup_keep]], [[cosine_near_dup_pairs]] and the ANN family all
    degrade quietly on a collapsed space).

    Exactness (the pair sum never materializes): with quantized
    components, ``Σ_{i≠j} v_i·v_j = |Σv|² − Σ|v|²`` exactly — one pass
    of 64 integer sums replaces the O(n²) pair join; the readout is
    ``div(1000·(|S|² − Q), (n−1)·Q)`` with Q = Σ|v_q|², sign-split (a
    spread space can push the numerator negative).  2¹⁰ quantization
    (the Fisher bound: per-dim sums get squared).

    Scale shape: ONE map-side-combinable aggregate to 64 sums + a
    1-row tail — O(n) for a pairwise statistic."""
    from pyspark.sql import functions as F

    base = df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == CENTROID_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(vec_col).alias("v"))

    def qx(d: int):
        return F.expr(
            f"GREATEST(LEAST(CAST(floor(v[{d}] * {FISHER_QSCALE}) AS BIGINT),"
            f" 2147483647), -2147483648)"
        )

    agg = base.groupBy().agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        *[F.sum(qx(d).cast("decimal(38,0)")).cast("decimal(38,0)").alias(f"s{d}")
          for d in range(CENTROID_DIM)],
        F.sum(
            sum((qx(d) * qx(d) for d in range(CENTROID_DIM)), F.lit(0)).cast(
                "decimal(38,0)"
            )
        ).alias("q"),
    )
    s2 = " + ".join(f"s{d} * s{d}" for d in range(CENTROID_DIM))
    return agg.select(
        F.col("n").cast("long").alias("n_vectors"),
        F.expr(f"CAST({s2} AS DECIMAL(38,0))").alias("sum_sq"),
        "q",
        "n",
    ).select(
        "n_vectors",
        F.expr(
            "CAST(CASE WHEN n > 1 AND q > 0 THEN"
            " CASE WHEN sum_sq >= q THEN div(1000 * (sum_sq - q), (n - 1) * q)"
            " ELSE -div(1000 * (q - sum_sq), (n - 1) * q) END"
            " END AS BIGINT)"
        ).alias("anisotropy_permille"),
    )


def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_anisotropy(table(spark, sf_dir, "embeddings"))


def _anisotropy_sql() -> str:
    qx = (
        f"GREATEST(LEAST(CAST(floor(embedding[i + 1] * {FISHER_QSCALE}) AS BIGINT),"
        " 2147483647), -2147483648)"
    )
    return f"""
WITH base AS (
  SELECT CAST(embedding AS DOUBLE[]) AS embedding
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {CENTROID_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), dims AS (
  SELECT t.i, CAST(SUM({qx}) AS HUGEINT) AS s,
         CAST(SUM(CAST({qx} AS HUGEINT) * {qx}) AS HUGEINT) AS qpart
  FROM base, range({CENTROID_DIM}) t(i)
  GROUP BY t.i
), tail AS (
  SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM base) AS n,
         SUM(s * s) AS sum_sq,
         SUM(qpart) AS q
  FROM dims
)
SELECT CAST(n AS BIGINT) AS n_vectors,
       CAST(CASE WHEN n > 1 AND q > 0 THEN
            CASE WHEN sum_sq >= q THEN (1000 * (sum_sq - q)) // ((n - 1) * q)
            ELSE -((1000 * (q - sum_sq)) // ((n - 1) * q)) END
            END AS BIGINT) AS anisotropy_permille
FROM tail
"""


ANISOTROPY_SQL = _anisotropy_sql()
