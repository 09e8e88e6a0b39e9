"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k as the exactness baseline; LSH (random-hyperplane)
and IVF (coarse-quantizer) bucketed variants as the 100 TB scale path —
both prune the candidate set so the expensive dot products run on a small
fraction of the corpus.

Vector math is pure `zip_with`/`aggregate` array algebra: elementwise
float→double products folded left-to-right, which is bit-identical to the
DuckDB oracle's list functions (verified empirically at sf0.01).

The ANN stages are written once and every query routes through them:
`_rank` (the per-query row number with an id tie-break; its ``≤ k``
filter keeps Spark's WindowGroupLimit), `_nearest_cell` (the nearest-cell
argmax, a `max_by` aggregate over a scored frame), `_adc_scores` (the PQ
lookup-table scorer, keyed by query or by query and cell) and
`_adc_top_k` (the exact rerank of an ADC shortlist). Scoring stays with
each caller, and each keeps the cosine it computes: the two agree bit
for bit on nonzero vectors, but on a zero vector the `cosine_pd` kernel
always raises, while the column `cosine` raises DIVIDE_BY_ZERO only
under ANSI mode (Spark's default) and is NULL without it.

Reference parity: embedding vectors `list[float]` (wurzel/steps/data.py:16);
the reference never searches them (its vector stores do) — this module is
the engine-native implementation the north star asks for.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators import common
from wurzel_spark.tables import table


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def _dbl(x: str) -> str:
    return f"CAST({x} AS DOUBLE[])"


def _norm_sql(a: str) -> str:
    """DuckDB twin of :func:`norm` over a DOUBLE[] expression."""
    return f"sqrt(list_dot_product({a}, {a}))"


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine of two DOUBLE[] expressions — every oracle's twin of
    the cosine kernels (``list_dot_product`` folds in order, as :func:`dot`
    does)."""
    return f"list_dot_product({a}, {b}) / ({_norm_sql(a)} * {_norm_sql(b)})"


def _l2_normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec/||vec||) in double — the shared unit-normalize projection
    (min L2² ⇔ max cosine for the PQ family). The element_at/transform
    wrapping evaluates the norm ONCE per row inside codegen."""
    vec = F.col(vec_col)
    nv = F.element_at(
        F.transform(
            F.array(norm(vec)),
            lambda n: F.transform(vec, lambda x: x.cast("double") / n),
        ),
        1,
    )
    return df.select(F.col(id_col), nv.alias(vec_col))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# Vectorized twins of the fold-based column math above. Spark evaluates
# higher-order functions interpreted (one closure call per element), so the
# hot similarity paths pay ~100 ops of interpreter per dot product. The
# Arrow-batched kernels below do the same arithmetic as numpy array ops —
# BIT-IDENTICAL to the fold: products first, then additions strictly
# left-to-right over dimensions (vectorized across the rows of the batch),
# starting from 0.0 exactly like F.aggregate's init. numpy's own
# sum()/dot() would pairwise-sum (different rounding) — never use them here.

def _fold_rows(prod: np.ndarray) -> np.ndarray:
    acc = np.zeros(prod.shape[0], dtype=np.float64)
    for j in range(prod.shape[1]):
        acc = acc + prod[:, j]
    return acc


def _stack64(s: pd.Series) -> np.ndarray:
    return np.stack(s.to_numpy()).astype(np.float64)


@F.pandas_udf(DoubleType())
def cosine_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype=np.float64)
    A, B = _stack64(a), _stack64(b)
    d = _fold_rows(A * B)
    na = np.sqrt(_fold_rows(A * A))
    nb = np.sqrt(_fold_rows(B * B))
    # 0/0 would be NaN, which Spark orders above every double: a zero
    # vector would silently rank first everywhere. Fail like the column
    # cosine does under ANSI (DIVIDE_BY_ZERO).
    if not (na.all() and nb.all()):
        raise ValueError("cosine_pd: zero-norm vector, cosine is undefined")
    return pd.Series(d / (na * nb))


# ------------------------------------------------------ shared ANN stages


def _rank(
    df: DataFrame,
    order,
    tie: str,
    k: int | None = None,
    part: str = "query_id",
    name: str = "rank",
) -> DataFrame:
    """The one ranker: ``name`` = the row number per ``part`` by
    ``order``, ties to the lower ``tie``. The ``≤ k`` filter comes right after the
    window, so Spark plans a WindowGroupLimit and each partition sorts
    only its top k."""
    ranked = df.withColumn(
        name, F.row_number().over(W.partitionBy(part).orderBy(order, tie))
    )
    return ranked if k is None else ranked.filter(F.col(name) <= k)


def _top_k(
    scored: DataFrame, score: str, k: int, nid: str = "neighbor_id", desc: bool = True
) -> DataFrame:
    """(query_id, rank, ``nid``, ``score``) of each query's k best rows,
    in rank order; ``desc=False`` ranks the smallest score first."""
    order = F.desc(score) if desc else F.col(score)
    return (
        _rank(scored, order, nid, k)
        .select("query_id", "rank", nid, score)
        .orderBy("query_id", "rank")
    )


def _nearest_cell(
    scored: DataFrame, id_col: str, vec_col: str | None = None
) -> DataFrame:
    """The one nearest-cell argmax over a scored (``id_col``, cell, sim)
    frame: (``id_col``[, ``vec_col``], cell, sim) of each id's highest-sim
    cell, ties to the lower cell id. max_by over a (sim, -cell) struct is
    a hash aggregate with a map-side partial combine; a row_number window
    would shuffle and sort every (id × cell) row. ``vec_col`` rides along
    in the aggregate."""
    carried = [F.col(vec_col).alias("__vec")] if vec_col else []
    best = F.max_by(
        F.struct("cell", *carried, "sim"),
        F.struct(F.col("sim"), (-F.col("cell")).alias("__nc")),
    )
    return scored.groupBy(id_col).agg(best.alias("__m")).select(
        id_col,
        *([F.col("__m.__vec").alias(vec_col)] if vec_col else []),
        F.col("__m.cell").alias("cell"),
        F.col("__m.sim").alias("sim"),
    )


def _cell_sims(
    emb: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, *carry: str
) -> DataFrame:
    """(id, *carry, cell, sim): every vector's cosine (:func:`cosine_pd`)
    to every centroid. ``centroids`` is (id_col, vec_col), its ids become
    cell ids; only the centroids are broadcast."""
    c = centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec"))
    return emb.crossJoin(F.broadcast(c)).select(
        id_col,
        *carry,
        "cell",
        cosine_pd(F.col(vec_col), F.col("cvec")).alias("sim"),
    )


def _argmax_cell(
    emb: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell, sim): each vector's nearest centroid by cosine,
    ties to the lower cell id."""
    scored = _cell_sims(emb, centroids, id_col, vec_col, vec_col)
    return _nearest_cell(scored, id_col, vec_col)


def _adc_scores(
    codes: DataFrame,
    queries: DataFrame,
    keys: list,
    qcol: str,
    cb: DataFrame,
    m: int,
    id_col: str,
) -> DataFrame:
    """The one PQ asymmetric-distance scorer: (query_id, neighbor_id,
    approx_d2). ``queries`` carries one vector ``qcol`` per key —
    ``keys`` selects (query_id) or (query_id, cell) from it — and each
    key's lookup table holds the :func:`_sub_l2` of its m query
    subvectors to every codeword. ``codes`` is (``id_col``, [cell,] sub,
    code). A candidate sums its m table terms in subspace order
    (array_sort, then a sequential fold), so the sum is the same under
    any partitioning. Keyed by cell, a candidate's terms reach it only
    through its own cell's tables, and the scorer also requires all m of
    them, so a partial sum never ranks; keyed by query alone, every
    (sub, code) is in the one table."""
    dsub = F.size(F.col(qcol)) / F.lit(m)
    qsubs = queries.select(
        *keys, F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), qcol
    )
    key_names = qsubs.columns[:-2]
    qsubs = qsubs.select(
        *key_names,
        "sub",
        F.slice(
            F.col(qcol), (F.col("sub") * dsub.cast("int") + 1).cast("int"), dsub.cast("int")
        ).alias("qsv"),
    )
    lut = qsubs.join(F.broadcast(cb), "sub").select(
        *key_names, "sub", "code", _sub_l2(F.col("qsv"), F.col("cw")).alias("t")
    )
    by_cell = len(key_names) > 1
    terms = F.array_sort(F.collect_list(F.struct("sub", "t")))
    agg = [F.aggregate(terms, F.lit(0.0), lambda acc, s: acc + s["t"]).alias("approx_d2")]
    if by_cell:
        agg.append(F.count(F.lit(1)).alias("n_subs"))
    scored = (
        codes.join(F.broadcast(lut), [*key_names[1:], "sub", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(*agg)
    )
    if by_cell:
        return scored.filter(
            (F.col("n_subs") == m) & (F.col("neighbor_id") != F.col("query_id"))
        ).drop("n_subs")
    return scored.filter(F.col("neighbor_id") != F.col("query_id"))


def _adc_top_k(
    scored: DataFrame,
    ncorp: DataFrame,
    nquery: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top k by ADC distance; with ``rerank`` the one exact rerank: the
    top ``rerank`` by ADC form the shortlist, and only those are scored
    with the exact cosine (a dot of the unit vectors ``ncorp`` and
    ``nquery``) — quantization then only has to keep true neighbours
    inside the shortlist, not rank them."""
    if not rerank:
        return _top_k(scored, "approx_d2", k, desc=False)
    shortlist = _rank(scored, F.col("approx_d2"), "neighbor_id", rerank).select(
        "query_id", "neighbor_id"
    )
    qv = nquery.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"))
    exact = (
        shortlist.join(
            ncorp.select(F.col(id_col).alias("neighbor_id"), vec_col), "neighbor_id"
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("query_vec"), F.col(vec_col)).alias("cos_sim"),
        )
    )
    return _top_k(exact, "cos_sim", k)


# ------------------------------------------------------------ operators


def brute_force_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the query vector(s), score every
    row, take k with a deterministic tie-break on id.

    At scale this is one scan + a broadcast + a per-query top-k (TakeOrdered,
    no full sort): the shuffle carries only k rows per partition.
    """
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = emb.alias("e").crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(f"e.{id_col}").alias("neighbor_id"),
        cosine_pd(F.col("query_vec"), F.col(f"e.{vec_col}")).alias("cos_sim"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(scored, "cos_sim", k)


def hyperplane_lsh_buckets(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of ⟨v, plane_j⟩.
    Deterministic planes are supplied by the caller (derived from corpus
    vectors or a seeded generator) — no runtime randomness.

    One Arrow-batched kernel computes all plane dots (sequential fold over
    dims, same rounding as the column algebra — the sign near zero depends
    on it); the interpreted-HOF form paid |planes|·|dims| closure calls per
    row.
    """
    P = np.array(planes, dtype=np.float64)

    @F.pandas_udf(StringType())
    def _bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = _stack64(v)
        acc = np.zeros((V.shape[0], P.shape[0]), dtype=np.float64)
        for j in range(V.shape[1]):
            acc = acc + V[:, j : j + 1] * P[None, :, j]
        bits = np.where(acc >= 0, "1", "0")
        out = bits[:, 0]
        for p in range(1, P.shape[0]):
            out = np.char.add(out, bits[:, p])
        return pd.Series(out)

    return emb.select(
        F.col(id_col), F.col(vec_col), _bucket(F.col(vec_col)).alias("bucket")
    )


def lsh_topk(
    emb: DataFrame,
    query: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket.
    Bucket join is a hash join on the bit-string — the 1/2^nbits candidate
    pruning that replaces the full scan at 100 TB. Recall measured in tests
    against brute_force_topk.
    """
    be = hyperplane_lsh_buckets(emb, planes, id_col, vec_col)
    bq = hyperplane_lsh_buckets(query, planes, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        "bucket",
    )
    scored = be.join(F.broadcast(bq), "bucket").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_pd(F.col("query_vec"), F.col(vec_col)).alias("cos_sim"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(scored, "cos_sim", k)


def cosine_lsh_near_dup_pairs(
    emb: DataFrame,
    planes: list[list[float]],
    bands: int = 4,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup via banded random-hyperplane LSH.

    The sign-bit string over ``planes`` is split into ``bands`` bands; a
    pair is a candidate iff it shares at least one band (per-band match
    prob (1-θ/π)^r — at cos ≥ 0.95 with 4 bands × 6 bits recall ≈ 0.95).
    Candidates join on (band_idx, band_value) — an equi hash join, never a
    cartesian/BroadcastNestedLoop — then the EXACT cosine verifies each
    pair. The join is :func:`common.band_pairs`, which keeps a pair
    sharing j bands once, at its first shared band.
    """
    nb = len(planes) // bands
    bucketed = hyperplane_lsh_buckets(emb, planes, id_col, vec_col)
    band_arr = F.array(
        *[F.substring("bucket", i * nb + 1, nb) for i in range(bands)]
    )
    banded = bucketed.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), band_arr.alias("bvs")
    )
    return (
        common.band_pairs(banded, "bvs")
        .select(
            "id_a", "id_b", cosine_pd(F.col("a_vec"), F.col("b_vec")).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (broadcast centroids, argmax cosine, ties to the lower centroid id).
    Partitioning the corpus by cell id co-locates each cell → probe reads
    only nprobe cells.
    """
    return _argmax_cell(emb, centroids, id_col, vec_col).select(id_col, vec_col, "cell")


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are assigned to their nearest-centroid
    cell once (at 100 TB: written out partitioned by cell); each query scores
    only the ``nprobe`` cells whose centroids are nearest to it. Candidate
    fraction ≈ nprobe / n_cells. Recall vs brute force asserted in tests.
    """
    cells = ivf_assign(emb, centroids, id_col, vec_col)
    c = centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid_vec"))
    q = query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"))
    probes = _rank(
        q.crossJoin(F.broadcast(c)).select(
            "query_id",
            "query_vec",
            "cell",
            cosine_pd(F.col("query_vec"), F.col("centroid_vec")).alias("sim"),
        ),
        F.desc("sim"),
        "cell",
        nprobe,
        name="rn",
    ).select("query_id", "query_vec", "cell")
    scored = cells.join(F.broadcast(probes), "cell").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_pd(F.col("query_vec"), F.col(vec_col)).alias("cos_sim"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(scored, "cos_sim", k)


# ---------------------------------------------------------------- queries

def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for the first 3 vectors."""
    emb = table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") < 3)
    return brute_force_topk(emb, query, k=10)


ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql(_dbl('q.query_vec'), _dbl('e.embedding'))} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos_sim
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + per-label norm stats (exact decimal mean)."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm(F.col("embedding")).alias("l2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("l2").alias("min_norm"),
            F.max("l2").alias("max_norm"),
        )
        .orderBy("label")
    )


EMB_NORMS_SQL = f"""
SELECT label,
       COUNT(*) AS n_vectors,
       MIN({_norm_sql(_dbl('embedding'))}) AS min_norm,
       MAX({_norm_sql(_dbl('embedding'))}) AS max_norm
FROM embeddings
GROUP BY label
ORDER BY label
"""


def cosine_exact_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact cosine ≥ threshold — O(n²), the VERIFIER for the
    LSH-bucketed operator (tests assert lsh ⊆ exact). Never the scale path."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_pd(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


_N_PLANES = 24  # 4 bands × 6 bits
_N_BANDS = 4


def q_cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus embedding-cosine near-dup through the banded LSH
    bucketer (equi band join, no cartesian). Planes are the first 24 corpus
    vectors — deterministic, mirrored exactly by the SQL oracle (including
    the banding, so results agree at any threshold). The synthetic corpus
    has no true near-dups (max pairwise cosine ≈ 0.51) — threshold 0.4
    keeps the correctness gate exercised with real rows.
    """
    emb = table(spark, sf_dir, "embeddings")
    planes = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < _N_PLANES).orderBy("vec_id").collect()
    ]
    return cosine_lsh_near_dup_pairs(emb, planes, bands=_N_BANDS, threshold=0.4)


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (rows-only check: bucketing is engine-internal;
    recall vs brute force asserted in tests).
    Planes are the first 4 corpus vectors — deterministic.
    """
    emb = table(spark, sf_dir, "embeddings")
    planes = [r.embedding for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    query = emb.filter(F.col("vec_id") < 3)
    return lsh_topk(emb, query, planes, k=10)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (rows-only check: cell assignment is
    engine-internal; recall vs brute force asserted in tests).
    Centroids are the first 8 corpus vectors — deterministic.
    """
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    query = emb.filter(F.col("vec_id") < 3)
    return ivf_topk(emb, query, centroids, k=10, nprobe=3)


def range_search(
    emb: DataFrame,
    query: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) search: every corpus vector within a cosine
    threshold of each query vector — the other half of the standard ANN
    API next to top-k.

    Same 100 TB shape as :func:`brute_force_topk` minus the window: one
    scan, queries broadcast, and the threshold filter runs inside the
    scan's codegen stage, so the shuffle carries only matches (for a
    selective threshold, almost nothing). An LSH/IVF pre-filter composes
    in front of it exactly as for top-k when the radius is tight.
    """
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    return (
        emb.alias("e")
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col(f"e.{id_col}").alias("neighbor_id"),
            cosine_pd(F.col("query_vec"), F.col(f"e.{vec_col}")).alias("cos_sim"),
        )
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("cos_sim") >= threshold)
        )
        .orderBy("query_id", "neighbor_id")
    )


def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All neighbors of the first 3 vectors with cosine ≥ 0.3 (the
    synthetic corpus tops out near 0.51, so the radius is selective but
    non-empty)."""
    emb = table(spark, sf_dir, "embeddings")
    return range_search(emb, emb.filter(F.col("vec_id") < 3), threshold=0.3)


ANN_RANGE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 3)
SELECT q.query_id, e.vec_id AS neighbor_id,
       {_cos_sql(_dbl('q.query_vec'), _dbl('e.embedding'))} AS cos_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id != q.query_id
  AND {_cos_sql(_dbl('q.query_vec'), _dbl('e.embedding'))} >= 0.3
ORDER BY query_id, neighbor_id
"""


def cell_stats(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-assignment statistics — one Lloyd/IVF assignment step made
    driver-checkable: per nearest-centroid cell, member count and the
    min/max member-to-centroid cosine (min/max chosen over mean because
    they are order-independent, so the result is bit-stable across any
    partitioning; a mean of doubles is not).

    This is the balance/occupancy readout an embedding-clustering pipeline
    watches (skewed cells → re-seed or split) and the partition-planning
    input for IVF search at 100 TB (cells map to partitions).
    """
    return (
        _nearest_cell(_cell_sims(emb, centroids, id_col, vec_col), id_col)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("sim").alias("min_sim"),
            F.max("sim").alias("max_sim"),
        )
        .orderBy("cell")
    )


def q_kmeans_cell_stats(spark, sf_dir: str) -> DataFrame:
    """Assignment step over 8 deterministic seeds (first 8 vectors)."""
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    return cell_stats(emb, emb.filter(F.col("vec_id") < 8))


# ------------------------------------------------------- k-means training

# Fixed-point quantization scale for centroid sums: floor(x · 2^40) is an
# exact, rounding-mode-free integer in every engine (floor is unambiguous;
# the ×2^40 double multiply is a power-of-two — exact). 64-dim components
# are |x| < 1, so per-component |q| < 2^40 and a BIGINT sum holds ~2^23
# members per cell before overflow; a 100 TB corpus would widen to
# DECIMAL(38,0) (same exactness, no other change).
_KMEANS_SCALE = float(1 << 40)
_KMEANS_DRIVER_MAX_ELEMS = 1 << 22  # n·dim; the kmeans_train size guard


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reseed_empty: bool = False,
) -> DataFrame:
    """Lloyd's algorithm over cosine similarity, engine-reproducibly.

    The trick that makes TRAINED clustering oracle-able (no other engine
    could bit-match iterated float means): cosine is scale-invariant, so
    the centroid never needs the mean — the exact per-dimension SUM of its
    members points in the same direction. Sums are fixed-point integers
    (floor(x·2^40), exact in any engine), so after any number of
    iterations both engines hold IDENTICAL centroid arrays, and every
    downstream cosine is the same sequential fold the ANN queries already
    bit-match.

    Per iteration: one broadcast-assign pass (argmax cosine over k
    centroids, ties to the lower cell id), one posexplode →
    groupBy(cell, dim) fixed-point sum (map-side combine; k·dim result
    rows collected to the driver — bytes, not data). Convergence probe:
    when the integer sums and counts of every cell are unchanged, the
    centroids are a fixpoint and further iterations are identity — stop.
    (Running extra iterations past the fixpoint is also identity, which is
    why a fixed-iteration SQL unrolling matches an early-stopped run.)

    Empty cells keep their previous centroid by default (the oracle-able
    rule). ``reseed_empty=True`` instead re-seeds each empty cell on the
    WORST-FIT member (globally lowest assignment similarity, ties to the
    lower vector id) — the practical rebalancing rule; engine-internal, so
    parity is pytest-checked, not oracle-checked.

    Returns (cell, centroid: array<double>, n_members); n_members counts
    the LAST training assignment (an assignment against the returned
    centroids is what :func:`cell_stats` computes — identical when
    training reached the fixpoint). Feed straight into :func:`cell_stats`
    / :func:`ivf_topk`.

    Size guard (same reasoning as the ≤1M-edge union-find): when
    n·dim ≤ ``_KMEANS_DRIVER_MAX_ELEMS`` (2²² ≈ 32 MB of float64) the
    whole matrix collects ONCE and Lloyd runs driver-side in numpy with
    the identical fold-rounding arithmetic — every per-iteration Spark
    job at this size is pure stage-launch latency. Above the guard the
    distributed loop runs; both paths are equivalence-tested and produce
    byte-identical centroids (integer fixed-point sums).
    """
    spark = emb.sparkSession
    # each Lloyd iteration (and the final stats pass) re-reads the input;
    # checkpoint once so 4+ assignment passes scan materialized rows
    # instead of re-running the parquet scan + Arrow conversion each time
    emb = emb.localCheckpoint(eager=False)
    # one agg job yields both gate inputs (was: a count job + a limit(1)
    # dim-probe job); min(size) is deterministic where limit(1) was
    # arbitrary-first, and the gate only routes between two paths that
    # are equivalence-tested bit-equal, so the routing input may be any
    # fixed function of the data
    probe = emb.agg(
        F.count(F.lit(1)).alias("n"), F.min(F.size(vec_col)).alias("d")
    ).first()
    n_vec = int(probe["n"])
    dim = int(probe["d"]) if probe["d"] is not None else 0
    if common.fits(n_vec * max(dim, 1), _KMEANS_DRIVER_MAX_ELEMS):
        return _kmeans_train_driver(
            spark, emb, k, max_iters, id_col, vec_col, reseed_empty
        )
    seeds = emb.orderBy(id_col).limit(k).collect()
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)
    ]
    n_members: dict[int, int] = {}
    prev_state = None

    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(_KMEANS_SCALE)).cast("long"),
    )

    for _ in range(max_iters):
        cdf = spark.createDataFrame(cents, [id_col, vec_col])
        assigned = _argmax_cell(emb, cdf, id_col, vec_col)
        rows = (
            assigned.select("cell", F.posexplode(qv).alias("pos", "q"))
            .groupBy("cell", "pos")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[int, dict[int, int]] = {}
        n_members = {}
        for r in rows:
            sums.setdefault(int(r["cell"]), {})[int(r["pos"])] = int(r["s"])
            n_members[int(r["cell"])] = int(r["n"])
        state = tuple(sorted((c, tuple(sorted(d.items()))) for c, d in sums.items()))
        if state == prev_state:
            break  # fixpoint: next assignment would be identical
        prev_state = state

        new_cents = []
        empty = []
        for cell, cvec in cents:
            if cell in sums:
                d = sums[cell]
                new_cents.append(
                    (cell, [float(d[p]) for p in range(len(cvec))])
                )
            else:
                empty.append(cell)
                new_cents.append((cell, cvec))  # keep-previous (oracle rule)
        if empty and reseed_empty:
            worst = (
                assigned.orderBy("sim", id_col).limit(len(empty)).collect()
            )
            by_cell = dict(zip(sorted(empty), worst))
            new_cents = [
                (c, [float(x) for x in by_cell[c][vec_col]]) if c in by_cell else (c, v)
                for c, v in new_cents
            ]
        cents = new_cents

    out = [
        (cell, cvec, n_members.get(cell, 0)) for cell, cvec in cents
    ]
    return spark.createDataFrame(out, ["cell", "centroid", "n_members"])


def _kmeans_train_driver(
    spark,
    emb: DataFrame,
    k: int,
    max_iters: int,
    id_col: str,
    vec_col: str,
    reseed_empty: bool,
) -> DataFrame:
    """Size-guarded driver path of :func:`kmeans_train`: one collect, then
    numpy Lloyd with arithmetic BYTE-IDENTICAL to the distributed path —
    cosine dots/norms accumulate dim-sequentially (rank-1 updates, the
    cosine_pd fold), argmax ties to the lower cell (np.argmax first-max),
    centroid sums are exact int64 fixed-point (order-free)."""
    rows = emb.select(id_col, vec_col).orderBy(id_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    V = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    n, d = V.shape
    nv = np.sqrt(_fold_rows(V * V))
    C = V[:k].copy()
    n_members: dict[int, int] = {}
    prev_state = None

    def cos_all(C_: np.ndarray) -> np.ndarray:
        acc = np.zeros((n, C_.shape[0]), dtype=np.float64)
        for j in range(d):
            acc = acc + V[:, j : j + 1] * C_[None, :, j]
        nc = np.sqrt(_fold_rows(C_ * C_))
        if not (nv.all() and nc.all()):  # as cosine_pd on the distributed path
            raise ValueError("kmeans_train: zero-norm vector, cosine is undefined")
        return acc / (nv[:, None] * nc[None, :])

    Q = np.floor(V * _KMEANS_SCALE).astype(np.int64)
    for _ in range(max_iters):
        cos = cos_all(C)
        assign = cos.argmax(axis=1)  # first max ⇒ ties to lower cell
        sums: dict[int, dict[int, int]] = {}
        n_members = {}
        for cell in range(k):
            mask = assign == cell
            cnt = int(mask.sum())
            if cnt:
                n_members[cell] = cnt
                s = Q[mask].sum(axis=0)
                sums[cell] = {p: int(s[p]) for p in range(d)}
        state = tuple(
            sorted((c, tuple(sorted(dd.items()))) for c, dd in sums.items())
        )
        if state == prev_state:
            break
        prev_state = state
        newC = C.copy()
        empty = [c for c in range(k) if c not in sums]
        for cell, dd in sums.items():
            newC[cell] = np.array([float(dd[p]) for p in range(d)])
        if empty and reseed_empty:
            sim_own = cos[np.arange(n), assign]
            order = np.lexsort((ids, sim_own))  # lowest sim, tie lower id
            worst = order[: len(empty)]
            for c, w in zip(sorted(empty), worst):
                newC[c] = V[w]
        C = newC

    out = [
        (cell, [float(x) for x in C[cell]], n_members.get(cell, 0))
        for cell in range(k)
    ]
    return spark.createDataFrame(out, ["cell", "centroid", "n_members"])


def q_kmeans_train_stats(spark, sf_dir: str) -> DataFrame:
    """Cell stats AFTER 3 Lloyd iterations from the first-8-vector seeds —
    the trained counterpart of q_kmeans_cell_stats (oracle: the same
    iterations unrolled in SQL over the fixed-point sums)."""
    from wurzel_spark.tables import table as _table

    # kmeans_train pins its input itself; a pin here would store a second copy
    emb = _table(spark, sf_dir, "embeddings")
    trained = kmeans_train(emb, k=8, max_iters=3)
    return cell_stats(
        emb,
        trained.select(
            F.col("cell").alias("vec_id"), F.col("centroid").alias("embedding")
        ),
    )


def _kmeans_unrolled_sql(k: int, iters: int) -> str:
    """DuckDB twin of q_kmeans_train_stats: ``iters`` Lloyd iterations
    unrolled as CTE stages (assignment → fixed-point sums → coalesce with
    the previous centroids for empty cells), then the cell_stats readout.
    Bit-exact because every stage is integer-exact or the shared
    sequential-fold cosine."""
    scale = int(_KMEANS_SCALE)

    def cos(vec: str, cvec: str) -> str:
        return _cos_sql(_dbl(vec), cvec)

    parts = [
        f"""c0 AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < {k}
)"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rn = 1
), s{t} AS (
  SELECT cell, i,
         SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT)) AS s
  FROM a{t}, UNNEST(range(1, len(embedding) + 1)) AS t_(i)
  GROUP BY cell, i
), c{t} AS (
  SELECT c.cell, COALESCE(n.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN (
    SELECT cell, list(CAST(CAST(s AS BIGINT) AS DOUBLE) ORDER BY i) AS cvec
    FROM s{t} GROUP BY cell
  ) n ON n.cell = c.cell
)"""
        )
    return f"""
WITH {', '.join(parts)},
final_assign AS (
  SELECT vec_id, cell, sim FROM (
    SELECT e.vec_id, c.cell, {cos("e.embedding", "c.cvec")} AS sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
    FROM embeddings e CROSS JOIN c{iters} c
  ) WHERE rn = 1
)
SELECT cell, COUNT(*) AS n_vectors, MIN(sim) AS min_sim, MAX(sim) AS max_sim
FROM final_assign
GROUP BY cell
ORDER BY cell
"""


KMEANS_TRAIN_SQL = _kmeans_unrolled_sql(k=8, iters=3)


KMEANS_CELLS_SQL = f"""
WITH c AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, c.cell,
         {_cos_sql(_dbl('e.embedding'), 'c.cvec')} AS sim
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, cell, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
  FROM scored
)
SELECT cell,
       COUNT(*) AS n_vectors,
       MIN(sim) AS min_sim,
       MAX(sim) AS max_sim
FROM assigned WHERE rn = 1
GROUP BY cell
ORDER BY cell
"""


def q_text_embedding_join(spark, sf_dir: str) -> DataFrame:
    """Cross-modal fusion: documents joined to their embedding rows
    (doc_id = vec_id), emitting text-side quality signals next to
    vector-side geometry — the canonical shape for quality-weighted
    vector indexing (filter on text stats, partition by label, index the
    survivors). One broadcastable equi-join; norms are the same
    sequential-fold kernel the ANN queries use, so floats hash-match the
    oracle bit-for-bit.
    """
    from wurzel_spark.tables import table as _table

    docs = _table(spark, sf_dir, "documents")
    emb = _table(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "label",
            TXT.word_count(F.col("text")).alias("n_words"),
            F.length("text").alias("n_chars"),
            norm(F.col("embedding")).alias("l2_norm"),
        )
        .orderBy("doc_id")
    )


TEXT_EMB_JOIN_SQL = rf"""
SELECT d.doc_id,
       e.label,
       len({TXT.words_sql('d.text')}) AS n_words,
       length(d.text) AS n_chars,
       {_norm_sql(_dbl('e.embedding'))} AS l2_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------- SemDeDup

def semdedup_keep(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication (Abbas et al. 2023, SemDeDup): cluster the
    embedding space, then within each cluster drop every vector that is
    within ``threshold`` cosine of a HIGHER-ranked clustermate, where rank
    orders members by similarity-to-centroid descending (ties to the lower
    id). Dropping the later-ranked member of each close pair keeps the
    LOWEST-centroid-similarity representative of every semantic-duplicate
    chain — the paper's keep rule (far-from-centroid examples carry the
    most diverse signal).

    Scale shape (the paper's own design point): pairwise similarity is
    computed only WITHIN a cell, so total cost is Σ|cell|², bounded by
    cluster granularity — k grows with the corpus (SemDeDup used 50k
    clusters for LAION) keeping cells ~constant-sized. In Spark that is
    one broadcast-assign pass (k centroids) + an equi-join on ``cell``
    (shuffle join, never a cartesian) + a left-anti join of the dropped
    ids. The ranking window partitions by cell — same bounded-cell
    guarantee, no mega-partition hazard.

    Replaces the reference's within-collection duplicate screens for the
    embedding modality (wurzel/steps/duplication/step.py:21-34 handles
    only text hashes). Returns kept rows: (id, cell, centroid_sim).
    """
    assigned = _argmax_cell(emb, centroids, id_col, vec_col)

    out_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cell", LongType()),
            StructField("centroid_sim", DoubleType()),
        ]
    )

    # One grouped Arrow kernel per cell replaces the (ranked ⋈ ranked)
    # pair join + 250k row-wise pandas cosines + distinct + anti-join:
    # the |cell|² similarity matrix is accumulated DIM-SEQUENTIALLY
    # (one rank-1 update per dimension) so every entry carries the exact
    # rounding of the sequential-fold cosine the SQL oracle computes —
    # numpy matmul's blocked summation would NOT. |cell|² floats in
    # memory is the SemDeDup design point (bounded cells); cells beyond
    # ~20k members need k scaled up, same as the paper.
    def _cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sim", "id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        m = len(pdf)
        acc = np.zeros((m, m), dtype=np.float64)
        for j in range(V.shape[1]):
            col = V[:, j]
            acc = acc + col[:, None] * col[None, :]
        norms = np.sqrt(acc.diagonal())
        cos = acc / (norms[:, None] * norms[None, :])
        # drop row i if any EARLIER-ranked j (j < i) has cos >= threshold
        tri = np.tril(cos >= threshold, k=-1)
        keep = ~tri.any(axis=1)
        out = pdf.loc[keep, ["id", "cell", "sim"]].rename(
            columns={"sim": "centroid_sim"}
        )
        return out

    kept = (
        assigned.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "cell", "sim"
        )
        .groupBy("cell")
        .applyInPandas(_cell_kernel, out_schema)
    )
    return kept.select(
        F.col("id").alias(id_col), "cell", "centroid_sim"
    ).orderBy(id_col)


def q_semdedup_keep(spark, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list with the first-8-vector seed centroids (the
    kmeans_cell_stats cells). Threshold 0.4 is test-scale: the synthetic
    corpus has no true semantic dups (max pairwise cosine ≈ 0.51), so 0.4
    exercises real drops; production would sit at ~0.95+."""
    emb = table(spark, sf_dir, "embeddings")
    return semdedup_keep(emb, emb.filter(F.col("vec_id") < 8), threshold=0.4)


SEMDEDUP_SQL = f"""
WITH c AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 8
),
assigned AS (
  SELECT vec_id, embedding, cell, sim FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           {_cos_sql(_dbl('e.embedding'), 'c.cvec')} AS sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql(_dbl('e.embedding'), 'c.cvec')} DESC, c.cell) AS rn
    FROM embeddings e CROSS JOIN c
  ) WHERE rn = 1
),
ranked AS (
  SELECT vec_id, embedding, cell, sim,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS r
  FROM assigned
),
dropped AS (
  SELECT DISTINCT a.cell, a.vec_id
  FROM ranked a JOIN ranked b ON a.cell = b.cell AND b.r < a.r
  WHERE {_cos_sql(_dbl('a.embedding'), _dbl('b.embedding'))}
        >= 0.4
)
SELECT r.vec_id, r.cell, r.sim AS centroid_sim
FROM ranked r
LEFT JOIN dropped d ON d.cell = r.cell AND d.vec_id = r.vec_id
WHERE d.vec_id IS NULL
ORDER BY r.vec_id
"""


# -------------------------------------- scaled-banding cosine LSH twin

# The 10× probe showed candidate volume ~n²/2^bits per band is the whole
# cost of banded cosine LSH (PERF.md round-4: 6-bit bands 73.4 s vs
# 12-bit bands 4.75 s at 20k vectors). Bits-per-band must scale with
# log2(n); this twin registers the scaled configuration (48 planes ⇒ 4
# bands × 12 bits) with its own mirrored oracle so the scale config is
# hash-checked, not just documented — the same pattern as the df-capped
# Jaccard twins.
_N_PLANES_SCALED = 48
_BITS_SCALED = _N_PLANES_SCALED // _N_BANDS


def q_cosine_near_dup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    planes = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < _N_PLANES_SCALED)
        .orderBy("vec_id")
        .collect()
    ]
    return cosine_lsh_near_dup_pairs(emb, planes, bands=_N_BANDS, threshold=0.4)


def _cosine_pairs_sql(n_planes: int, bands: int, threshold: float) -> str:
    """DuckDB twin of cosine_lsh_near_dup_pairs for any banding."""
    bits = n_planes // bands
    return f"""
WITH planes AS (
  SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pvec
  FROM embeddings WHERE vec_id < {n_planes}
),
bits AS (
  SELECT e.vec_id,
         p.pid,
         CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pvec) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM embeddings e CROSS JOIN planes p
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY pid) AS bucket
  FROM bits GROUP BY vec_id
),
bandrows AS (
  SELECT vec_id, t.band_idx,
         substring(bucket, CAST(t.band_idx * {bits} + 1 AS INT), {bits}) AS bv
  FROM buckets, range({bands}) t(band_idx)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bandrows a
  JOIN bandrows b ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       {_cos_sql(_dbl('ea.embedding'), _dbl('eb.embedding'))} AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE {_cos_sql(_dbl('ea.embedding'), _dbl('eb.embedding'))} >= {threshold}
ORDER BY id_a, id_b
"""


COSINE_PAIRS_SQL = _cosine_pairs_sql(_N_PLANES, _N_BANDS, 0.4)


COSINE_PAIRS_SCALED_SQL = _cosine_pairs_sql(_N_PLANES_SCALED, _N_BANDS, 0.4)


# ------------------------------------------------------- multi-probe LSH

def lsh_topk_multiprobe(
    emb: DataFrame,
    query: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    probes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007): besides its own bucket,
    each query probes the buckets reached by flipping the sign bits with
    the SMALLEST margin |⟨q, plane⟩| — the bits most likely to differ for
    a true near neighbor. Recall approaches exhaustive search with
    ``probes`` ≪ 2^nbits buckets touched, at exactly ``probes``× the
    query-side join fan-out (corpus side is untouched: same bucket table,
    same equi hash join — no extra corpus scan or shuffle).

    The probe sequence is deterministic: flip the 1..log2(probes) lowest-
    margin bits in every subset order, tie-broken by plane index, so
    results are stable and test-comparable. Query side is tiny by
    assumption (it is broadcast); the probe explosion multiplies only it.
    """
    P = np.array(planes, dtype=np.float64)
    nbits = P.shape[0]

    out_type = ArrayType(StringType())

    @F.pandas_udf(out_type)
    def _probe_buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = _stack64(v)
        acc = np.zeros((V.shape[0], nbits), dtype=np.float64)
        for j in range(V.shape[1]):
            acc = acc + V[:, j : j + 1] * P[None, :, j]
        bits = acc >= 0
        margins = np.abs(acc)
        out = []
        for r in range(V.shape[0]):
            base = bits[r].copy()
            order = np.lexsort((np.arange(nbits), margins[r]))  # low margin first
            bucket_set = []
            m = 1
            while (1 << m) < probes and m < nbits:
                m += 1
            flip_bits = order[:m]
            for mask in range(min(probes, 1 << m)):
                b = base.copy()
                for i, bit in enumerate(flip_bits):
                    if mask & (1 << i):
                        b[bit] = ~b[bit]
                bucket_set.append("".join("1" if x else "0" for x in b))
            out.append(bucket_set)
        return pd.Series(out)

    be = hyperplane_lsh_buckets(emb, planes, id_col, vec_col)
    bq = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(_probe_buckets(F.col(vec_col))).alias("bucket"),
    )
    scored = (
        be.join(F.broadcast(bq), "bucket")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_pd(F.col("query_vec"), F.col(vec_col)).alias("cos_sim"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))  # dedup multi-bucket hits
    )
    return _top_k(scored, "cos_sim", k)


def q_ann_topk_multiprobe(spark, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k over a 6-plane bucketer, 8 probes —
    recall-tested against brute force (rows-only: the probe-sequence
    enumeration is engine-internal; the underlying cosine is the shared
    bit-exact fold).

    6 bits = 64 buckets ≈ log2-scaled for the driver's 500-5000-vector
    sf range (the PERF.md round-4 lesson: bucket bits must track
    log2(n) or candidate sets collapse/explode — 12 bits at 500 vectors
    left ~1 candidate per query and a near-empty top-k)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    planes = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]
    return lsh_topk_multiprobe(emb, queries, planes, k=10, probes=8)


# ----------------------------------------------- product quantization (PQ)

_PQ_M = 8  # subspaces over the 64-dim embeddings (8 dims each)
_PQ_KSUB = 16  # codewords per subspace → 4 bits/subspace, 32-bit codes


def pq_codebook(
    emb: DataFrame,
    m: int = _PQ_M,
    ksub: int = _PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Public codebook frame — see :func:`_pq_codebook_with_rows`."""
    out, _ = _pq_codebook_with_rows(emb, m, ksub, id_col, vec_col)
    return out


def _pq_codebook_with_rows(
    emb: DataFrame,
    m: int = _PQ_M,
    ksub: int = _PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Deterministic PQ codebook: codeword ``c`` of subspace ``s`` is the
    s-th subvector of corpus vector ``c`` (the first ``ksub`` ids) — the
    same fixed-seed convention as the IVF centroids (ivf_assign above),
    so the whole pipeline is reproducible and oracle-portable. A trained
    variant would run kmeans_train per subspace; the m × ksub structure
    below is unchanged by that swap.

    Size-guarded driver collect of ``ksub`` vectors (the hyperplane-LSH
    plane-vector class); broadcast everywhere it is used.
    """
    rows = sorted(
        emb.filter(F.col(id_col) < ksub).select(id_col, vec_col).collect(),
        key=lambda r: r[0],
    )
    dsub = len(rows[0][1]) // m

    def _self_dot(xs: list[float]) -> float:
        # same left-to-right IEEE fold as dot(cw, cw) — bit-identical,
        # but computed ONCE per codeword here instead of per scored row
        acc = 0.0
        for x in xs:
            acc = acc + x * x
        return acc

    data = []
    for r in rows:
        for s in range(m):
            cw = [float(x) for x in r[1][s * dsub : (s + 1) * dsub]]
            data.append((s, int(r[0]), cw, _self_dot(cw)))
    out = emb.sparkSession.createDataFrame(
        data, "sub int, code int, cw array<double>, cww double"
    )
    # The codebook is DRIVER-built; the internal pipelines fetch the
    # local rows alongside the frame (_pq_codebook_with_rows) so
    # pq_encode skips the createDataFrame→collect round trip (one
    # scheduled job per encode). Explicit parameter, not a DataFrame
    # attribute side-channel (ADVICE r12): callers without the rows
    # still take the collect path.
    return out, data


def _sub_l2(sv, cw):
    """Squared L2 distance via three sequential-fold dot products with a
    FIXED expression tree — ``(<sv,sv> - 2<sv,cw>) + <cw,cw>`` — so DuckDB's
    list_dot_product reproduces every intermediate rounding."""
    return (dot(sv, sv) - (F.lit(2.0) * dot(sv, cw))) + dot(cw, cw)


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = _PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_rows: list | None = None,
) -> DataFrame:
    """PQ encoding: per (vector, subspace), the nearest codeword id (ties
    to the lower code). Output one row per (vec, sub) — 4 bits of payload
    each; at 100 TB the 64-dim float vector (256 B) compresses to m·4 bits
    (4 B), which is the reason PQ is the standard billion-scale ANN layout.

    Shape: the codebook (m·ksub rows — KB-sized by construction) is
    collected once and BROADCAST as a dense (m, ksub, dsub) array; one
    Arrow kernel scores all ksub codewords per subspace with vectorized
    numpy folds that replay ``dot``'s left-to-right rounding sequence
    bit-exactly (np.argmin's first-minimum rule == min_by's tie-to-lower
    over code-ordered codewords). Vectors never shuffle; per-task work is
    O(rows · m · ksub) SIMD flops.
    """
    import numpy as np
    import pandas as pd

    # The ksub-way comparison runs in ONE Arrow kernel instead of an
    # explode(×m) → broadcast join → 3-fold-per-row HOF pipeline: the
    # interpreted higher-order folds were the cost (n·m·ksub evaluations).
    # Bit-exactness is preserved by construction — the kernel accumulates
    # every dot product left-to-right over the dimension index, exactly
    # the `dot` fold's rounding sequence, and the d2 expression tree
    # ((svv − 2·<sv,cw>) + cww) matches term for term; np.argmin's
    # first-minimum rule IS min_by(code, struct(d2, code))'s tie-to-lower
    # (codewords are code-ordered). pq_code_stats stays oracle-hash-green.
    if local_rows is not None:
        # driver-built codebook (_pq_codebook_with_rows): reuse its rows
        # instead of collecting the frame we just created from them —
        # passed EXPLICITLY (ADVICE r12: a DataFrame-attribute
        # side-channel silently dropped on any intervening transform)
        cb_rows = sorted((s, c, list(cw)) for (s, c, cw, _cww) in local_rows)
    else:
        cb_rows = sorted(
            ((r["sub"], r["code"], list(r["cw"])) for r in codebook.collect())
        )
    if not cb_rows:
        # Empty codebook (e.g. no corpus ids < ksub seeded it): there is
        # nothing to assign — return an empty, correctly-typed frame
        # instead of IndexError-ing on cb_rows[0].
        id_type0 = emb.schema[id_col].dataType.simpleString()
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} {id_type0}, sub int, code int"
        )
    # Codes present in the codebook, in ascending order — the argmin runs
    # over POSITIONS in this list and maps back, so a sparse/shifted code
    # id space (e.g. ids 10..25 as seeds) can never produce a phantom
    # all-zero codeword or emit a code the codebook doesn't contain.
    code_ids = sorted({r[1] for r in cb_rows})
    code_pos = {c: p for p, c in enumerate(code_ids)}
    nk = len(code_ids)
    dsub = len(cb_rows[0][2])
    CW = np.zeros((m, nk, dsub), dtype=np.float64)
    for s, c, cw in cb_rows:
        CW[s, code_pos[c]] = cw
    CWW = np.zeros((m, nk), dtype=np.float64)
    for s in range(m):
        for i in range(dsub):  # left-to-right, same fold as dot(cw, cw)
            CWW[s] += CW[s, :, i] * CW[s, :, i]
    b_cw = emb.sparkSession.sparkContext.broadcast(
        (CW, CWW, np.asarray(code_ids, dtype=np.int64))
    )
    id_type = emb.schema[id_col].dataType.simpleString()

    def _encode(batches):
        cw_m, cww_m, codes_m = b_cw.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            ids = pdf[id_col].to_numpy()
            out_id = np.repeat(ids, m)
            out_sub = np.tile(np.arange(m, dtype=np.int64), n)
            out_code = np.empty(n * m, dtype=np.int64)
            for s in range(m):
                sv = V[:, s * dsub : (s + 1) * dsub]
                svv = np.zeros(n)
                acc = np.zeros((n, nk))
                for i in range(dsub):  # sequential over dims == dot fold
                    svv += sv[:, i] * sv[:, i]
                    acc += sv[:, i, None] * cw_m[s, None, :, i]
                d2 = (svv[:, None] - 2.0 * acc) + cww_m[s, None, :]
                out_code[s::m] = codes_m[np.argmin(d2, axis=1)]
            yield pd.DataFrame({id_col: out_id, "sub": out_sub, "code": out_code})

    return emb.select(id_col, vec_col).mapInPandas(
        _encode, f"{id_col} {id_type}, sub int, code int"
    )


def _pq_codes(
    emb: DataFrame, m: int, ksub: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes) of ``emb``; the encoder reuses the driver-built
    codebook's rows instead of collecting the frame."""
    cb, cb_rows = _pq_codebook_with_rows(emb, m, ksub, id_col, vec_col)
    return cb, pq_encode(emb, cb, m, id_col, vec_col, local_rows=cb_rows)


def pq_code_stats(emb: DataFrame, m: int = _PQ_M, ksub: int = _PQ_KSUB) -> DataFrame:
    """Codebook occupancy: vectors per (subspace, codeword) — the balance
    readout that tells you whether the codebook spans the corpus (empty
    codewords → retrain; one mega-codeword → quantization is useless)."""
    _, codes = _pq_codes(emb, m, ksub)
    return (
        codes.groupBy("sub", "code")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("sub", "code")
    )


def pq_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = _PQ_M,
    ksub: int = _PQ_KSUB,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: vectors are L2-normalized (so
    min L2² ⇔ max cosine), encoded once, and each query scores candidates
    by summing m table lookups — ``Σ_s ||q_s − cw(code_s)||²`` — instead
    of a 64-dim dot product (Jégou et al., TPAMI 2011).

    ``rerank > 0`` adds the standard second stage: shortlist the top
    ``rerank`` candidates by ADC, then score ONLY those with the exact
    cosine (a broadcast-semi-join back to the vectors — the same
    verify-only-candidates shape as the MinHash pipeline). Quantization
    then only has to keep true neighbors inside the shortlist, not rank
    them — recall@10 on this corpus goes 0.27 → ~1.0 at rerank=100 while
    the exact math touches rerank/n of the corpus.

    Scale shape: the per-query lookup table is queries × m × ksub rows
    (384 here) → broadcast; the corpus side touches only the 4-byte codes,
    never the vectors. The per-candidate sum folds the m subspace terms in
    subspace order (array_sort → sequential fold) so the ranking is
    bit-deterministic under any partitioning. Approximate by construction
    → registered rows-only with a recall floor asserted in tests.
    """
    ncorp = _l2_normalized(emb, id_col, vec_col)
    nquery = _l2_normalized(query, id_col, vec_col)
    cb, codes = _pq_codes(ncorp, m, ksub, id_col, vec_col)
    scored = _adc_scores(
        codes, nquery, [F.col(id_col).alias("query_id")], vec_col, cb, m, id_col
    )
    return _adc_top_k(scored, ncorp, nquery, k, rerank, id_col, vec_col)


def q_pq_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_code_stats(table(spark, sf_dir, "embeddings"))


PQ_CODE_STATS_SQL = """
WITH cb AS (
  SELECT s.sub, e.vec_id AS code,
         (CAST(e.embedding AS DOUBLE[]))[s.sub*8+1 : s.sub*8+8] AS cw
  FROM embeddings e, UNNEST(range(0, 8)) AS s(sub)
  WHERE e.vec_id < 16
), subs AS (
  SELECT e.vec_id, s.sub,
         (CAST(e.embedding AS DOUBLE[]))[s.sub*8+1 : s.sub*8+8] AS sv
  FROM embeddings e, UNNEST(range(0, 8)) AS s(sub)
), scored AS (
  SELECT vec_id, subs.sub, cb.code,
         (list_dot_product(sv, sv) - (2.0 * list_dot_product(sv, cw)))
           + list_dot_product(cw, cw) AS d2
  FROM subs JOIN cb ON subs.sub = cb.sub
), assigned AS (
  SELECT vec_id, sub, code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
  FROM scored
)
SELECT sub, code, COUNT(*) AS n_vectors
FROM assigned WHERE rn = 1
GROUP BY sub, code
ORDER BY sub, code
"""


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=10, rerank=100)


# ------------------------------------------- hybrid retrieval (RRF fusion)

def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    k: int = 10,
    depth: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid lexical + vector retrieval fused with Reciprocal Rank
    Fusion (Cormack et al., SIGIR 2009): per query,
    ``score = Σ_branches 1/(rrf_k + rank)`` over the BM25 top-``depth``
    and the cosine top-``depth`` (doc_id = vec_id linkage, the
    text_embedding_join convention) — the standard RAG retrieval layout
    where neither branch's score scale has to be calibrated against the
    other's.

    Determinism: ranks are integers; each branch contributes one exact
    IEEE division; the two terms add in a fixed order — bit-reproducible,
    so the fused ranking oracles exactly. Scale shape: both branches
    arrive already top-``depth``-ed per query (a few rows each), so the
    fusion join is broadcast-trivial; the heavy lifting stays in the
    branch operators, each with its own scale path (term-pruned BM25;
    swap brute-force cosine for the PQ/IVF/multi-probe variants above at
    corpus scale — the fusion is rank-only and does not change).
    """
    from wurzel_spark.operators.textstats import _BM25_QUERIES, bm25_topk

    qids = sorted(_BM25_QUERIES)
    lex = bm25_topk(docs, k=depth).select(
        "query_id", "doc_id", F.col("rank").alias("rank_lex")
    )
    vec = brute_force_topk(emb, emb.filter(F.col("vec_id").isin(qids)), k=depth).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rank_vec"),
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_vec")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return _top_k(fused, "rrf_score", k, nid="doc_id")


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hybrid_rrf_topk(
        table(spark, sf_dir, "documents"), table(spark, sf_dir, "embeddings")
    )


def _hybrid_rrf_sql() -> str:
    from wurzel_spark.operators.textstats import BM25_TOPK_SQL

    lex = BM25_TOPK_SQL.rsplit("ORDER BY", 1)[0]
    vec = ANN_TOPK_SQL.rsplit("ORDER BY", 1)[0]
    return f"""
WITH lex AS (SELECT * FROM ({lex})),
     vec AS (SELECT * FROM ({vec}))
SELECT query_id, rank, doc_id, rrf_score FROM (
  SELECT query_id, doc_id, rrf_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id) AS rank
  FROM (
    SELECT COALESCE(l.query_id, v.query_id) AS query_id,
           COALESCE(l.doc_id, v.neighbor_id) AS doc_id,
           COALESCE(1.0 / (60 + l.rank), 0.0)
             + COALESCE(1.0 / (60 + v.rank), 0.0) AS rrf_score
    FROM lex l FULL OUTER JOIN vec v
      ON l.query_id = v.query_id AND l.doc_id = v.neighbor_id
  )
) WHERE rank <= 10
ORDER BY query_id, rank
"""


HYBRID_RRF_SQL = _hybrid_rrf_sql()


# ------------------------------------------------- int8 scalar quantization

SQ8_LEVELS = 127


def sq8_code_stats(emb: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4×-compression layout every vector store offers below product
    quantization (Qdrant/Milvus "scalar quantization"): per vector,
    scale = 127 / max|v_i|, code_i = floor(v_i · scale), and the audit
    columns a pipeline checks before flipping an index to quantized
    storage: code range, zero-code count, and the MAX reconstruction
    error.

    Everything is a row-local array expression (no shuffle, no UDF) and
    deterministic cross-engine: float32 inputs widen to double exactly,
    scale is one IEEE division, codes are floor of one multiply, and the
    error statistic is a MAX — order-independent, unlike a float sum.
    Zero vectors quantize to all-zero codes with NULL scale.
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(float(SQ8_LEVELS)) / F.nullif(max_abs, F.lit(0.0))
    codes = F.when(
        scale.isNull(), F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(F.transform(v, lambda x: F.floor(x * scale)))
    recon_err = F.when(scale.isNull(), F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with(v, codes, lambda x, c: F.abs(x - c.cast("double") / scale))
        )
    )
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            max_abs.alias("max_abs"),
            F.size(F.filter(codes, lambda c: c == 0)).alias("n_zero_codes"),
            F.aggregate(codes, F.lit(0).cast("long"), lambda a, c: a + c).alias(
                "sum_codes"
            ),
            F.array_max(codes).alias("max_code"),
            F.array_min(codes).alias("min_code"),
            recon_err.alias("max_recon_err"),
        )
        .orderBy("vec_id")
    )


def q_sq8_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sq8_code_stats(table(spark, sf_dir, "embeddings"))


SQ8_CODE_STATS_SQL = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS max_abs
  FROM v
), q AS (
  SELECT vec_id, v, max_abs,
         {float(SQ8_LEVELS)!r} / NULLIF(max_abs, 0.0) AS scale
  FROM s
), c AS (
  SELECT vec_id, v, max_abs, scale,
         CASE WHEN scale IS NULL
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x * scale) AS BIGINT)) END AS codes
  FROM q
)
SELECT vec_id,
       CAST(len(v) AS INT) AS n_dims,
       max_abs,
       CAST(len(list_filter(codes, x -> x = 0)) AS INT) AS n_zero_codes,
       CAST(list_sum(codes) AS BIGINT) AS sum_codes,
       list_max(codes) AS max_code,
       list_min(codes) AS min_code,
       CASE WHEN scale IS NULL THEN 0.0
            ELSE list_max(list_zip(v, codes).list_transform(
                   p -> abs(p[1] - CAST(p[2] AS DOUBLE) / scale))) END AS max_recon_err
FROM c
ORDER BY vec_id
"""


# ------------------------------------------------------------------ IVF-PQ

def ivfpq_topk(
    emb: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    m: int = _PQ_M,
    ksub: int = _PQ_KSUB,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the composite billion-scale ANN layout (faiss's
    ``IVFx,PQy`` workhorse) — coarse quantization assigns each vector to
    a centroid cell, product quantization encodes the RESIDUAL
    ``v − centroid(cell)`` (by-residual ADC: residuals are smaller and
    near-isotropic, so the same codebook budget buys less distortion),
    and a query scores only codes in its ``nprobe`` nearest cells via
    per-(query, cell) lookup tables over the residual codebook.

    Scale shape: the corpus contributes one assignment pass + one encode
    kernel; everything per-query is broadcast-sized (probes: queries ×
    nprobe rows; LUT: queries × nprobe × m × ksub). Candidate work is
    codes-in-probed-cells only — the corpus vectors are never touched
    after encoding except by the optional exact rerank's broadcast
    shortlist join. The m-term ADC sum folds in subspace order
    (array_sort → sequential fold) so ranking is partitioning-stable.
    Approximate by construction → registered rows-only; recall floor
    (and rerank's recovery to ≥ IVF recall) asserted in tests.
    """
    ncorp = _l2_normalized(emb, id_col, vec_col)
    nquery = _l2_normalized(query, id_col, vec_col)
    ncent = _l2_normalized(centroids, id_col, vec_col)

    cells = ivf_assign(ncorp, ncent, id_col, vec_col)
    cvec = ncent.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid_vec")
    )
    resid = cells.join(F.broadcast(cvec), "cell").select(
        id_col,
        "cell",
        F.zip_with(
            F.col(vec_col), F.col("centroid_vec"), lambda x, y: x - y
        ).alias(vec_col),
    )
    # three consumers (codebook collect, encode kernel, cell join) — pin,
    # or the corpus-by-centroids assignment pass executes three times
    resid = resid.localCheckpoint(eager=True)
    cb, codes = _pq_codes(resid.select(id_col, vec_col), m, ksub, id_col, vec_col)
    codes = codes.join(resid.select(id_col, "cell"), id_col)

    # probe the nprobe nearest cells per query (same rule as ivf_topk)
    q = nquery.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probes = _rank(
        q.crossJoin(F.broadcast(cvec)).select(
            "query_id",
            "qv",
            "cell",
            dot(F.col("qv"), F.col("centroid_vec")).alias("sim"),
            "centroid_vec",
        ),
        F.desc("sim"),
        "cell",
        nprobe,
        name="rn",
    ).select(
        "query_id",
        "cell",
        F.zip_with(F.col("qv"), F.col("centroid_vec"), lambda x, y: x - y).alias("qrv"),
    )
    scored = _adc_scores(codes, probes, ["query_id", "cell"], "qrv", cb, m, id_col)
    return _adc_top_k(scored, ncorp, nquery, k, rerank, id_col, vec_col)


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN with exact rerank (rows-only: residual codes are
    engine-internal; recall floors asserted in tests). Centroids are the
    first 8 corpus vectors, queries the first 3 — deterministic."""
    emb = table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 3),
        emb.filter(F.col("vec_id") < 8),
        k=10,
        nprobe=3,
        rerank=50,
    )


# ------------------------------------------------------- index drift

def index_drift_stats(
    old_emb: DataFrame,
    new_emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-maintenance readout: has the embedding distribution DRIFTED
    away from the partitioning an IVF/k-means index was built on? The
    index-time snapshot (``old_emb``) and the current corpus
    (``new_emb``) are assigned to the SAME centroids and compared cell by
    cell; a large share shift is the retrain trigger every vector-store
    operator watches.

    Exactness: the per-cell share difference |n_old/t_old − n_new/t_new|
    is computed as the cross-multiplied integer |n_old·t_new − n_new·t_old|
    (exact int64; widen to decimal at petabyte counts) with ONE final
    division — order-independent, oracle-hash-green. One assignment pass
    over the union; the comparison itself is |cells| rows.
    """
    # assign each snapshot independently — ids may overlap between
    # snapshots (the same vector existing at index time and now), so a
    # union + per-id argmax would silently collapse them. Only the cell
    # is read: no vector rides through the argmax buffer.
    def per_cell(emb: DataFrame, name: str) -> DataFrame:
        scored = _cell_sims(emb, centroids, id_col, vec_col)
        return (
            _nearest_cell(scored, id_col)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias(name))
        )

    per_old, per_new = per_cell(old_emb, "n_old"), per_cell(new_emb, "n_new")
    per = (
        per_old.join(per_new, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce(F.col("n_old"), F.lit(0)).alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
    )
    totals = per.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    scaled = F.abs(
        F.col("n_old") * F.col("t_new") - F.col("n_new") * F.col("t_old")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "cell",
            "n_old",
            "n_new",
            scaled.alias("share_diff_scaled"),
            (
                scaled.cast("double")
                / (F.col("t_old") * F.col("t_new")).cast("double")
            ).alias("share_diff"),
        )
        .orderBy("cell")
    )


def q_index_drift_stats(spark, sf_dir: str) -> DataFrame:
    """Demo snapshot convention: even ids = index-time snapshot, odd ids
    = current corpus (real callers pass two genuine snapshot frames)."""
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    return index_drift_stats(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 != 0),
        emb.filter(F.col("vec_id") < 8),
    )


INDEX_DRIFT_SQL = f"""
WITH c AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, c.cell,
         {_cos_sql(_dbl('e.embedding'), 'c.cvec')} AS sim
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
  FROM scored
),
per AS (
  SELECT cell,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_new
  FROM assigned WHERE rn = 1 GROUP BY cell
),
tot AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM per)
SELECT cell, n_old, n_new,
       CAST(abs(n_old * t_new - n_new * t_old) AS BIGINT) AS share_diff_scaled,
       CAST(abs(n_old * t_new - n_new * t_old) AS DOUBLE)
         / CAST(t_old * t_new AS DOUBLE) AS share_diff
FROM per, tot
ORDER BY cell
"""


# ------------------------------------------------- matryoshka truncation

MATRYOSHKA_DIMS = (8, 16, 32)


def matryoshka_recall_stats(
    emb: DataFrame,
    query: DataFrame,
    dims: tuple[int, ...] = MATRYOSHKA_DIMS,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation evaluation: how much of the full-dimension
    top-k survives when similarity uses only the first ``d`` dimensions —
    the measurement behind MRL-style "store 64 dims, search 16" cost
    cuts. Per (query, d): overlap count and recall@k vs the full-dim
    ranking.

    Shape: ONE broadcast query×corpus score pass per dims entry plus the
    full-dim baseline, each a per-query top-k (the brute-force shape —
    this is an EVAL harness, run on samples, not the serving path).
    Cosines are the shared sequential-fold kernel → oracle-hash-green.
    """
    q = query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))

    def _topk(d: int | None) -> DataFrame:
        ev = F.col(vec_col) if d is None else F.slice(F.col(vec_col), 1, d)
        qv = F.col("qv") if d is None else F.slice(F.col("qv"), 1, d)
        scored = (
            emb.crossJoin(F.broadcast(q))
            .select(
                "query_id",
                F.col(id_col).alias("nid"),
                cosine_pd(ev, qv).alias("sim"),
            )
            .filter(F.col("nid") != F.col("query_id"))
        )
        return _rank(scored, F.desc("sim"), "nid", k, name="rn").select("query_id", "nid")

    full = _topk(None).localCheckpoint(eager=True)  # one baseline pass,
    # not one per dims entry (the unioned plan would re-evaluate it)
    out = None
    for d in dims:
        overlap = (
            _topk(d)
            .join(full, ["query_id", "nid"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        row = (
            q.select("query_id")
            .join(overlap, "query_id", "left")
            .select(
                "query_id",
                F.lit(d).alias("dims"),
                F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
                (
                    F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                    / F.lit(float(k))
                ).alias("recall_at_k"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("query_id", "dims")


def q_matryoshka_recall(spark, sf_dir: str) -> DataFrame:
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    return matryoshka_recall_stats(emb, emb.filter(F.col("vec_id") < 3))


def _matryoshka_sql() -> str:
    parts = []
    for d in MATRYOSHKA_DIMS:
        parts.append(f"""
SELECT f.query_id, {d} AS dims,
       CAST(COUNT(t.nid) AS BIGINT) AS n_overlap,
       CAST(COUNT(t.nid) AS DOUBLE) / 10.0 AS recall_at_k
FROM fullk f LEFT JOIN topk_{d} t ON t.query_id = f.query_id AND t.nid = f.nid
GROUP BY f.query_id""")
    ctes = ["""q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
)"""]
    for label, slice_expr_e, slice_expr_q in [
        ("fullk", "CAST(e.embedding AS DOUBLE[])", "q.qv")
    ] + [
        (f"topk_{d}", f"CAST(e.embedding AS DOUBLE[])[1:{d}]", f"q.qv[1:{d}]")
        for d in MATRYOSHKA_DIMS
    ]:
        ctes.append(f"""{label} AS (
  SELECT query_id, nid FROM (
    SELECT q.query_id, e.vec_id AS nid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql(slice_expr_e, slice_expr_q)} DESC, e.vec_id) AS rn
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != q.query_id
  ) WHERE rn <= 10
)""")
    union = "\nUNION ALL\n".join(parts)
    return "WITH " + ",\n".join(ctes) + "\n" + f"SELECT * FROM ({union}) ORDER BY query_id, dims"


MATRYOSHKA_RECALL_SQL = _matryoshka_sql()


def ivf_write(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Serve-side IVF layout: write the corpus partitioned BY CELL
    (``path/cell=N/...``), so a query's nprobe probe reads exactly nprobe
    directories — Spark's partition pruning turns the cell filter into
    "never open the file", the storage analog of the in-memory cell join
    ivf_topk does. This is what "at 100 TB: written out partitioned by
    cell" (ivf_topk's docstring) concretely means.
    """
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


# ---------------------------------------------- hard-negative mining

def hard_negatives_from_scores(
    scored: DataFrame, k: int = 5, margin: float = 0.1, ceiling: float = 0.95
) -> DataFrame:
    """Contrastive-training hard-negative mining over a scored candidate
    set (query_id, neighbor_id, cos_sim): per query, the top-1 neighbor
    is the presumed positive (gold); a HARD negative is any other
    candidate within ``margin`` of the gold score but at or below
    ``ceiling`` (above it, the "negative" is almost surely an unlabeled
    duplicate of the positive — the standard false-negative guard).
    Returns the k hardest per query: (query_id, neg_rank, neighbor_id,
    cos_sim, gold_cos).

    Decoupled from the scorer on purpose: feed it brute-force scores for
    exactness (the registered query does — oracle-checkable), or the
    IVF/LSH candidate streams (`ivf_topk`, `lsh_topk`) at 100 TB, where
    scoring every (query, doc) pair is off the table. Window partitions
    by query_id — per-query candidate lists are bounded (k·nprobe cells),
    so the sort inside each partition is small regardless of corpus size.
    """
    ranked = _rank(
        scored.select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.max("cos_sim").over(W.partitionBy("query_id")).alias("gold_cos"),
        ),
        F.desc("cos_sim"),
        "neighbor_id",
    )
    negs = ranked.filter(
        (F.col("rank") >= 2)
        & (F.col("cos_sim") >= F.col("gold_cos") - F.lit(margin))
        & (F.col("cos_sim") <= F.lit(ceiling))
    )
    return (
        _rank(negs, F.desc("cos_sim"), "neighbor_id", k, name="neg_rank")
        .select("query_id", "neg_rank", "neighbor_id", "cos_sim", "gold_cos")
        .orderBy("query_id", "neg_rank")
    )


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for the first 8 vectors as queries, brute-force
    scored (the exactness configuration; IVF feeds the same miner at
    scale)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    scored = (
        emb.alias("e")
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("e.vec_id").alias("neighbor_id"),
            cosine_pd(F.col("query_vec"), F.col("e.embedding")).alias("cos_sim"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return hard_negatives_from_scores(scored, k=5, margin=0.1, ceiling=0.95)


HARD_NEGATIVE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql(_dbl('q.query_vec'), _dbl('e.embedding'))} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         MAX(cos_sim) OVER (PARTITION BY query_id) AS gold_cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
), negs AS (
  SELECT query_id, neighbor_id, cos_sim, gold_cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS neg_rank
  FROM ranked
  WHERE rank >= 2 AND cos_sim >= gold_cos - 0.1 AND cos_sim <= 0.95
)
SELECT query_id, neg_rank, neighbor_id, cos_sim, gold_cos
FROM negs WHERE neg_rank <= 5
ORDER BY query_id, neg_rank
"""


# --------------------------------------------- bitext margin mining

BITEXT_SRC_LANG = "de"
BITEXT_TGT_LANG = "fr"
BITEXT_K = 4  # neighborhood size for the margin denominator
BITEXT_PLANES = 48  # hyperplane pool (vec_id < 48, the cosine_near_dup_scaled convention)
BITEXT_BANDS = 4
_BITEXT_QSCALE = 1 << 20  # quantize cos once (the linalg QSCALE convention)


def _bitext_bits(n_small: int) -> int:
    """Band width ∝ log₂(smaller side): floor(log2 n) − 2, clamped to
    [3, 12] — per-band buckets scale with the data, so candidate volume
    stays ~linear (the cosine_near_dup_scaled bits-∝-log₂n rule; the
    8-fixed-cell first cut probed 27.5× supralinear)."""
    return min(12, max(3, max(n_small, 1).bit_length() - 3))


def bitext_margin_pairs(
    docs: DataFrame,
    emb: DataFrame,
    src_lang: str = BITEXT_SRC_LANG,
    tgt_lang: str = BITEXT_TGT_LANG,
    k: int = BITEXT_K,
    n_planes: int = BITEXT_PLANES,
    bands: int = BITEXT_BANDS,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    ccMatrix/LASER recipe): for every source-language document, the
    target-language document whose cosine stands out ABOVE both of their
    neighborhoods — margin(x,y) = cos(x,y) − (avgₖ(x)+avgₖ(y))/2, the
    distance-margin variant — plus the mutual-best flag (x's best pick
    also picks x back), the standard high-precision filter for mined
    translation pairs.

    Candidates are banded sign-LSH buckets over SHARED data-derived
    hyperplanes (first ``n_planes`` corpus vectors — the proven
    cosine_near_dup_scaled convention), NOT the full cross product; band
    width scales with log₂ of the smaller side so buckets grow with the
    data and candidate volume stays ~linear (probe-verified — the fixed
    8-cell first cut grew 27.5×). A true translation pair (cos → 1)
    collides in EVERY band, so mining recall concentrates exactly where
    precision matters. The margin's neighborhood averages run over the
    same candidate set, so the approximation is self-consistent
    (standard in faiss-based mining).

    Exactness: pair cosines use the Arrow-batched sequential-fold dot
    (the proven list_dot_product twin), quantized ONCE to ``cos_q``
    ints; margins clear denominators — margin_q = 2·nx·ny·cos_q −
    (ny·sx + nx·sy) with nx,ny the actual neighborhood counts — so
    ranking and the >0 gate are pure integer algebra, bit-equal
    cross-engine. Band width and plane count derive from exact COUNTs
    (floor(log2 n) is rounding-safe for n < 2⁴⁰), computed driver-side
    here and by scalar subqueries in the oracle.

    Scale shape: candidate generation is an equi hash join on
    (band, bits) — never a cartesian; :func:`common.band_pairs` keeps a
    pair sharing several bands once; then one ALL-WINDOW pipeline over
    the candidate table — per-side top-k sums, both margin ranks, and the
    mutual flag are six window functions over two partitionings, no
    self-join, and vectors drop right after the cos projection."""
    def _side(lang: str, idc: str) -> DataFrame:
        return (
            docs.filter(F.col("lang") == lang)
            .join(emb, docs.doc_id == emb.vec_id)
            .select(F.col("doc_id").alias(idc), F.col("embedding").alias(f"{idc}_vec"))
        )

    a, b = _side(src_lang, "src_id"), _side(tgt_lang, "tgt_id")
    # ONE grouped count replaces the two per-side count() jobs (each was
    # a full docs⨝emb pass), and ONE bounded seed collect (≤ n_planes
    # rows) yields both the seed count and the plane vectors — 4 driver
    # jobs / 4 input passes folded into 2.
    side_counts = {
        r["lang"]: r["c"]
        for r in docs.filter(F.col("lang").isin(src_lang, tgt_lang))
        .join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_a = int(side_counts.get(src_lang, 0))
    n_b = int(side_counts.get(tgt_lang, 0))
    seed_rows = (
        emb.filter(F.col("vec_id") < n_planes).orderBy("vec_id").collect()
    )
    n_seed = len(seed_rows)
    planes_used = min(bands * _bitext_bits(min(n_a, n_b)), n_seed)
    bits = planes_used // bands
    planes_used = bits * bands
    # same rows as filter(vec_id < planes_used): planes_used ≤ n_planes,
    # and on sparse id spaces the id predicate (not a row count) decides
    planes = [r["embedding"] for r in seed_rows if r["vec_id"] < planes_used]

    def _banded(side: DataFrame, idc: str) -> DataFrame:
        bucketed = hyperplane_lsh_buckets(side, planes, idc, f"{idc}_vec")
        band_arr = F.array(
            *[F.substring("bucket", i * bits + 1, bits) for i in range(bands)]
        )
        return bucketed.select(
            F.col(idc).alias("id"), F.col(f"{idc}_vec").alias("vec"), band_arr.alias("bvs")
        )

    pairs = common.band_pairs(_banded(a, "src_id"), "bvs", _banded(b, "tgt_id")).select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("tgt_id"),
        F.floor(cosine_pd(F.col("a_vec"), F.col("b_vec")) * _BITEXT_QSCALE)
        .cast("long")
        .alias("cos_q"),
    )
    wx, wy = W.partitionBy("src_id"), W.partitionBy("tgt_id")
    cos_desc = F.col("cos_q").desc()
    enriched = (
        _rank(
            _rank(pairs, cos_desc, "tgt_id", part="src_id", name="rn_x"),
            cos_desc,
            "src_id",
            part="tgt_id",
            name="rn_y",
        )
        .withColumn(
            "sx",
            F.sum(F.when(F.col("rn_x") <= k, F.col("cos_q")).otherwise(F.lit(0))).over(wx),
        )
        .withColumn(
            "nx", F.sum(F.when(F.col("rn_x") <= k, 1).otherwise(0)).over(wx)
        )
        .withColumn(
            "sy",
            F.sum(F.when(F.col("rn_y") <= k, F.col("cos_q")).otherwise(F.lit(0))).over(wy),
        )
        .withColumn(
            "ny", F.sum(F.when(F.col("rn_y") <= k, 1).otherwise(0)).over(wy)
        )
        .withColumn(
            "margin_q",
            2 * F.col("nx") * F.col("ny") * F.col("cos_q")
            - (F.col("ny") * F.col("sx") + F.col("nx") * F.col("sy")),
        )
    )
    margin_desc = F.col("margin_q").desc()
    return (
        _rank(
            _rank(enriched, margin_desc, "tgt_id", part="src_id", name="fwd_rn"),
            margin_desc,
            "src_id",
            part="tgt_id",
            name="bwd_rn",
        )
        .filter((F.col("fwd_rn") == 1) & (F.col("margin_q") > 0))
        .select(
            "src_id",
            "tgt_id",
            "cos_q",
            F.col("margin_q").cast("long").alias("margin_q"),
            (F.col("bwd_rn") == 1).alias("is_mutual"),
        )
        .orderBy("src_id")
    )


def q_bitext_margin_pairs(spark, sf_dir: str) -> DataFrame:
    return bitext_margin_pairs(
        table(spark, sf_dir, "documents"), table(spark, sf_dir, "embeddings")
    )


def _bitext_sql() -> str:
    return f"""
WITH a AS (
  SELECT d.doc_id AS src_id, e.embedding AS vec
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = '{BITEXT_SRC_LANG}'
), b AS (
  SELECT d.doc_id AS tgt_id, e.embedding AS vec
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = '{BITEXT_TGT_LANG}'
), params AS (
  SELECT ((LEAST(
            {BITEXT_BANDS} * LEAST(12, GREATEST(3,
              CAST(FLOOR(LOG2(GREATEST(LEAST((SELECT COUNT(*) FROM a),
                                             (SELECT COUNT(*) FROM b)), 1))) AS INT) - 2)),
            (SELECT COUNT(*) FROM embeddings WHERE vec_id < {BITEXT_PLANES})
          )) // {BITEXT_BANDS}) AS bits
), planes AS (
  SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pvec
  FROM embeddings WHERE vec_id < (SELECT bits * {BITEXT_BANDS} FROM params)
), abits AS (
  SELECT a.src_id,
         string_agg(CASE WHEN list_dot_product(CAST(a.vec AS DOUBLE[]), p.pvec) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
  FROM a CROSS JOIN planes p GROUP BY a.src_id
), bbits AS (
  SELECT b.tgt_id,
         string_agg(CASE WHEN list_dot_product(CAST(b.vec AS DOUBLE[]), p.pvec) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS bucket
  FROM b CROSS JOIN planes p GROUP BY b.tgt_id
), aband AS (
  SELECT src_id, t.band_idx,
         substring(bucket, CAST(t.band_idx * (SELECT bits FROM params) + 1 AS INT),
                   CAST((SELECT bits FROM params) AS INT)) AS bv
  FROM abits, range({BITEXT_BANDS}) t(band_idx)
), bband AS (
  SELECT tgt_id, t.band_idx,
         substring(bucket, CAST(t.band_idx * (SELECT bits FROM params) + 1 AS INT),
                   CAST((SELECT bits FROM params) AS INT)) AS bv
  FROM bbits, range({BITEXT_BANDS}) t(band_idx)
), cand AS (
  SELECT DISTINCT ab.src_id, bb.tgt_id
  FROM aband ab JOIN bband bb ON ab.band_idx = bb.band_idx AND ab.bv = bb.bv
), pairs AS (
  SELECT c.src_id, c.tgt_id,
         CAST(floor({_cos_sql(_dbl("a.vec"), _dbl("b.vec"))} * {_BITEXT_QSCALE}) AS BIGINT) AS cos_q
  FROM cand c JOIN a ON c.src_id = a.src_id JOIN b ON c.tgt_id = b.tgt_id
), enriched AS (
  SELECT src_id, tgt_id, cos_q,
         ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos_q DESC, tgt_id) AS rn_x,
         ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cos_q DESC, src_id) AS rn_y
  FROM pairs
), summed AS (
  SELECT src_id, tgt_id, cos_q,
         CAST(SUM(CASE WHEN rn_x <= {BITEXT_K} THEN cos_q ELSE 0 END)
              OVER (PARTITION BY src_id) AS BIGINT) AS sx,
         CAST(SUM(CASE WHEN rn_x <= {BITEXT_K} THEN 1 ELSE 0 END)
              OVER (PARTITION BY src_id) AS BIGINT) AS nx,
         CAST(SUM(CASE WHEN rn_y <= {BITEXT_K} THEN cos_q ELSE 0 END)
              OVER (PARTITION BY tgt_id) AS BIGINT) AS sy,
         CAST(SUM(CASE WHEN rn_y <= {BITEXT_K} THEN 1 ELSE 0 END)
              OVER (PARTITION BY tgt_id) AS BIGINT) AS ny
  FROM enriched
), margins AS (
  SELECT src_id, tgt_id, cos_q,
         2 * nx * ny * cos_q - (ny * sx + nx * sy) AS margin_q
  FROM summed
), ranked AS (
  SELECT src_id, tgt_id, cos_q, margin_q,
         ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY margin_q DESC, tgt_id) AS fwd_rn,
         ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY margin_q DESC, src_id) AS bwd_rn
  FROM margins
)
SELECT src_id, tgt_id, cos_q, CAST(margin_q AS BIGINT) AS margin_q,
       (bwd_rn = 1) AS is_mutual
FROM ranked WHERE fwd_rn = 1 AND margin_q > 0
ORDER BY src_id
"""


BITEXT_MARGIN_SQL = _bitext_sql()


# ------------------------------------------- binary-embedding retrieval audit

BINARY_RECALL_K = 10
BINARY_N_QUERIES = 10
_BINARY_DIM = 64


def binary_embedding_recall(
    emb: DataFrame,
    k: int = BINARY_RECALL_K,
    n_queries: int = BINARY_N_QUERIES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-embedding retrieval sign-off: recall@k of 1-bit (sign)
    quantized Hamming ranking against the exact cosine ranking, per
    query — the audit behind the 32×-memory-cut binary-embedding trade
    (Hamming distance over sign bits approximates angle; this measures
    how much of the true top-k survives on THIS corpus before an index
    is rebuilt in binary form).

    Exactness: sign bits pack into TWO 32-bit halves (bit 63 would need
    2^63, past signed BIGINT — the split keeps every sum in range);
    Hamming = bit_count(xor(lo)) + bit_count(xor(hi)) — pure integer in
    both engines; the exact ranking uses the certified sequential-fold
    cosine doubles; both rankings tie-break on candidate id.

    Scale shape: the ``n_queries`` query rows broadcast against the
    corpus — ONE linear pass producing both rankings from the same pair
    projection (two windows per query partition, rank-1 prune via
    WindowGroupLimit); the audit is the exact-verifier configuration
    (ann_topk_bruteforce precedent) — the production path is the packed
    bitmap index this audit signs off."""
    pow_lo = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])

    def pack(vec, off):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at(vec, i + 1 + off) >= 0, F.element_at(pow_lo, i + 1)
            ).otherwise(F.lit(0)),
        )

    base = emb.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == _BINARY_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        pack(F.col(vec_col), 0).alias("lo"),
        pack(F.col(vec_col), 32).alias("hi"),
    )
    q = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    pairs = base.crossJoin(F.broadcast(q)).filter(F.col("id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "id",
        F.expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").alias("hamming"),
        cosine(F.col("vec"), F.col("qvec")).alias("cos"),
    )
    ranked = _rank(
        _rank(scored, "hamming", "id", name="rn_ham"),
        F.col("cos").desc(),
        "id",
        name="rn_cos",
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rn_ham") <= k) & (F.col("rn_cos") <= k), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_overlap"),
            F.max(
                F.when(
                    (F.col("rn_ham") == 1) & (F.col("rn_cos") == 1), True
                ).otherwise(False)
            ).alias("top1_match"),
        )
        .select(
            "query_id",
            "n_overlap",
            F.expr(f"div(1000 * n_overlap, {k})").alias("recall_permille"),
            "top1_match",
        )
        .orderBy("query_id")
    )


def q_binary_embedding_recall(spark, sf_dir: str) -> DataFrame:
    return binary_embedding_recall(table(spark, sf_dir, "embeddings"))


def _binary_recall_sql() -> str:
    def pack(off: int) -> str:
        return (
            "list_sum(list_transform(range(0, 32), i -> CASE WHEN "
            f"embedding[CAST(i AS INT) + 1 + {off}] >= 0 "
            "THEN ([" + ", ".join(str(1 << i) for i in range(32)) + "])[CAST(i AS INT) + 1] "
            "ELSE 0 END))"
        )

    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding AS vec,
         CAST({pack(0)} AS BIGINT) AS lo,
         CAST({pack(32)} AS BIGINT) AS hi
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_BINARY_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), q AS (
  SELECT id AS query_id, vec AS qvec, lo AS qlo, hi AS qhi
  FROM base WHERE id < {BINARY_N_QUERIES}
), scored AS (
  SELECT q.query_id, b.id,
         bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi)) AS hamming,
         {_cos_sql(_dbl("b.vec"), _dbl("q.qvec"))} AS cos
  FROM base b CROSS JOIN q WHERE b.id != q.query_id
), ranked AS (
  SELECT query_id, id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, id) AS rn_ham,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rn_cos
  FROM scored
)
SELECT query_id,
       CAST(SUM(CASE WHEN rn_ham <= {BINARY_RECALL_K} AND rn_cos <= {BINARY_RECALL_K}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST((1000 * SUM(CASE WHEN rn_ham <= {BINARY_RECALL_K} AND rn_cos <= {BINARY_RECALL_K}
                             THEN 1 ELSE 0 END)) // {BINARY_RECALL_K} AS BIGINT) AS recall_permille,
       CAST(MAX(CASE WHEN rn_ham = 1 AND rn_cos = 1 THEN 1 ELSE 0 END) AS BOOLEAN) AS top1_match
FROM ranked GROUP BY query_id
ORDER BY query_id
"""


BINARY_RECALL_SQL = _binary_recall_sql()


# ------------------------------------------------ graded retrieval eval

NDCG_K = 10
NDCG_N_QUERIES = 10
_NDCG_SCALE = 1 << 20
# Position discounts floor(2^20 / log2(rank+1)) precomputed ONCE here and
# inlined as the same integer literals in both engines — log2 never runs
# inside either engine, so the per-rank discount is a shared constant and
# every DCG term is an exact integer product.
NDCG_DISCOUNTS = [
    int(_NDCG_SCALE / __import__("math").log2(rank + 1)) for rank in range(1, NDCG_K + 1)
]


def retrieval_ndcg_eval(
    emb: DataFrame,
    k: int = NDCG_K,
    n_queries: int = NDCG_N_QUERIES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Graded retrieval quality sign-off: nDCG@k and MRR of the exact
    cosine ranking against label-derived graded relevance — the standard
    eval pair (Järvelin & Kekäläinen 2002) behind every retrieval-stack
    regression gate; [[binary_embedding_recall]] audits an INDEX against
    the exact ranking, this audits the exact ranking against GROUND
    TRUTH. Relevance grades derive deterministically from the label
    space: 2 = same label, 1 = adjacent label (|Δ| = 1), 0 otherwise.

    Exactness: discounts are the shared NDCG_DISCOUNTS integer table
    (log2 precomputed once module-side, never inside an engine), so
    DCG/IDCG are exact integer sums; ndcg_permille is integer floor-div,
    MRR is floor(10⁶/rank). The cosine is used ONLY to rank (the
    certified sequential-fold doubles, tie-break on candidate id) —
    no float ever reaches an output column. IDCG ranks the SAME
    candidate pool by relevance (tie id), so ndcg ≤ 1000 by
    construction; a query whose pool holds no relevant candidate gets
    NULL ndcg (0//0 guard) and rr_micros 0.

    Scale shape: the n_queries rows broadcast against the corpus — one
    linear pair pass, two windows per query partition (rank prune via
    WindowGroupLimit), one grouped aggregate; the audit configuration
    (fixed query count) per the ann_topk_bruteforce precedent."""
    disc = F.array(*[F.lit(d).cast("long") for d in NDCG_DISCOUNTS])
    base = emb.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == _BINARY_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), F.col(label_col).alias("lbl")
    )
    q = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("lbl").alias("qlbl"),
    )
    pairs = base.crossJoin(F.broadcast(q)).filter(F.col("id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "id",
        F.when(F.col("lbl") == F.col("qlbl"), F.lit(2))
        .when(F.abs(F.col("lbl") - F.col("qlbl")) == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rel"),
        cosine(F.col("vec"), F.col("qvec")).alias("cos"),
    )
    ranked = _rank(
        _rank(scored, F.col("cos").desc(), "id", name="rn_cos"),
        F.col("rel").desc(),
        "id",
        name="rn_ideal",
    )
    agg = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("rn_cos") <= k, F.col("rel") * F.element_at(disc, F.col("rn_cos").cast("int")))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_q"),
        F.sum(
            F.when(
                F.col("rn_ideal") <= k,
                F.col("rel") * F.element_at(disc, F.col("rn_ideal").cast("int")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg_q"),
        F.min(F.when(F.col("rel") >= 1, F.col("rn_cos"))).alias("best_rank"),
    )
    return agg.select(
        "query_id",
        "dcg_q",
        "idcg_q",
        F.expr(
            "CASE WHEN idcg_q > 0 THEN div(1000 * dcg_q, idcg_q) ELSE NULL END"
        ).alias("ndcg_permille"),
        F.expr(
            "CAST(CASE WHEN best_rank IS NULL THEN 0 ELSE div(1000000, best_rank) END AS BIGINT)"
        ).alias("rr_micros"),
    ).orderBy("query_id")


def q_retrieval_ndcg_eval(spark, sf_dir: str) -> DataFrame:
    return retrieval_ndcg_eval(table(spark, sf_dir, "embeddings"))


def _ndcg_sql() -> str:
    disc = "[" + ", ".join(str(d) for d in NDCG_DISCOUNTS) + "]"
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding AS vec, label AS lbl
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_BINARY_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND label IS NOT NULL
), q AS (
  SELECT id AS query_id, vec AS qvec, lbl AS qlbl FROM base WHERE id < {NDCG_N_QUERIES}
), scored AS (
  SELECT q.query_id, b.id,
         CAST(CASE WHEN b.lbl = q.qlbl THEN 2
                   WHEN ABS(b.lbl - q.qlbl) = 1 THEN 1 ELSE 0 END AS BIGINT) AS rel,
         {_cos_sql(_dbl("b.vec"), _dbl("q.qvec"))} AS cos
  FROM base b CROSS JOIN q WHERE b.id != q.query_id
), ranked AS (
  SELECT query_id, rel,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rn_cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, id) AS rn_ideal
  FROM scored
), agg AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN rn_cos <= {NDCG_K}
                       THEN rel * ({disc})[CAST(rn_cos AS INT)] ELSE 0 END) AS BIGINT) AS dcg_q,
         CAST(SUM(CASE WHEN rn_ideal <= {NDCG_K}
                       THEN rel * ({disc})[CAST(rn_ideal AS INT)] ELSE 0 END) AS BIGINT) AS idcg_q,
         MIN(CASE WHEN rel >= 1 THEN rn_cos END) AS best_rank
  FROM ranked GROUP BY query_id
)
SELECT query_id, dcg_q, idcg_q,
       CASE WHEN idcg_q > 0 THEN (1000 * dcg_q) // idcg_q ELSE NULL END AS ndcg_permille,
       CAST(CASE WHEN best_rank IS NULL THEN 0 ELSE 1000000 // best_rank END AS BIGINT) AS rr_micros
FROM agg ORDER BY query_id
"""


NDCG_EVAL_SQL = _ndcg_sql()


# --------------------------------------------- IVF nprobe tuning sweep

IVF_SWEEP_NPROBES = (1, 2, 4, 8)
IVF_SWEEP_K = 10
IVF_SWEEP_N_CENTROIDS = 8
IVF_SWEEP_N_QUERIES = 20


def ivf_nprobe_sweep(
    emb: DataFrame,
    k: int = IVF_SWEEP_K,
    n_centroids: int = IVF_SWEEP_N_CENTROIDS,
    n_queries: int = IVF_SWEEP_N_QUERIES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The canonical IVF tuning table: recall@k and scanned-candidate
    share at nprobe ∈ {1,2,4,8} — the curve every ANN deployment reads
    before fixing its latency/recall trade ([[ivf_topk]] runs ONE point
    of it; this is the decision sheet).  At the top nprobe (= all
    cells) recall is 1000 by construction — the sweep's built-in
    sanity row.

    Exactness: recall@k needs no second retrieval pass — a brute-force
    top-k member in a probed cell is NECESSARILY in the IVF top-k (it
    outranks every candidate that outranks nothing above it), and every
    IVF∩brute member is such a row, so
    ``recall = #(brute top-k in probed cells) / k`` exactly.  Cosine is
    the certified sequential-fold double used ONLY to rank (desc, id
    tie-break — the retrieval_ndcg convention); cells, ranks, hit
    counts and permilles are all integers.  Candidate share counts FULL
    cell sizes (the self row stays in its cell's cost; it is excluded
    only from the top-k pool).

    Scale shape: one corpus × broadcast-centroids assignment pass (a
    nearest-cell aggregate, map-side combined), one corpus ×
    broadcast-queries brute pass with the per-query top-k pruned by
    WindowGroupLimit, then centroid-grain joins — the audit
    configuration (fixed query count), linear in the corpus."""
    base = emb.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == _BINARY_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cents = base.filter(F.col("id") < n_centroids).select(
        F.col("id").alias("cid"), F.col("vec").alias("cvec")
    )
    queries = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )

    # corpus → nearest-centroid cell
    assigned = _nearest_cell(
        base.crossJoin(F.broadcast(cents)).select(
            "id", F.col("cid").alias("cell"), cosine(F.col("vec"), F.col("cvec")).alias("sim")
        ),
        "id",
    ).select("id", "cell")
    cell_sizes = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )

    # per-query centroid ranking (which cells probe first)
    qranks = _rank(
        queries.crossJoin(F.broadcast(cents)).select(
            "query_id", "cid", cosine(F.col("qvec"), F.col("cvec")).alias("qcos")
        ),
        F.desc("qcos"),
        "cid",
        name="crank",
    ).select("query_id", "cid", "crank")

    # brute-force top-k (the ground truth), each member tagged with its cell
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", "id", cosine(F.col("vec"), F.col("qvec")).alias("cos"))
    )
    topk = (
        _rank(scored, F.desc("cos"), "id", k, name="rn")
        .join(assigned, "id")
        .join(qranks.withColumnRenamed("query_id", "qq"),
              (F.col("query_id") == F.col("qq")) & (F.col("cell") == F.col("cid")))
        .select("query_id", "crank")
    )
    n_corpus = base.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    cand = (
        qranks.withColumnRenamed("cid", "cell")
        .join(cell_sizes, "cell", "left")
        .select("query_id", "crank", F.coalesce("sz", F.lit(0)).alias("sz"))
    )

    # ONE pass over the expensive subtrees: fold top-k hits and scanned
    # candidates to crank-grain histograms (≤ n_centroids rows), then the
    # probe rows derive from tiny crank ≤ nprobe conditional joins.
    hist = topk.groupBy("crank").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits_at")
    )
    candh = cand.groupBy("crank").agg(F.sum("sz").cast("long").alias("scanned_at"))
    nq = queries.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    probes = (
        nq.crossJoin(n_corpus)
        .select(
            "n_queries",
            "n_corpus",
            F.explode(
                F.array(*[F.lit(p).cast("long") for p in IVF_SWEEP_NPROBES])
            ).alias("nprobe"),
        )
    )
    agg = (
        probes.join(hist, hist.crank <= probes.nprobe, "left")
        .groupBy("nprobe", "n_queries", "n_corpus")
        .agg(F.coalesce(F.sum("n_hits_at"), F.lit(0)).alias("n_hits"))
        .join(
            probes.select("nprobe")
            .join(candh, candh.crank <= F.col("nprobe"), "left")
            .groupBy("nprobe")
            .agg(F.coalesce(F.sum("scanned_at"), F.lit(0)).alias("n_scanned")),
            "nprobe",
        )
    )
    return agg.select(
        "nprobe",
        "n_queries",
        F.expr(f"div(1000 * n_hits, n_queries * {k})").alias("recall_permille"),
        F.expr("div(1000 * n_scanned, n_queries * n_corpus)").alias(
            "candidates_permille"
        ),
    ).orderBy("nprobe")


def q_ivf_nprobe_sweep(spark, sf_dir: str) -> DataFrame:
    return ivf_nprobe_sweep(table(spark, sf_dir, "embeddings"))


def _ivf_sweep_sql() -> str:
    probes = ", ".join(str(p) for p in IVF_SWEEP_NPROBES)
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding AS vec
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_BINARY_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), cents AS (
  SELECT id AS cid, vec AS cvec FROM base WHERE id < {IVF_SWEEP_N_CENTROIDS}
), q AS (
  SELECT id AS query_id, vec AS qvec FROM base WHERE id < {IVF_SWEEP_N_QUERIES}
), assigned AS (
  SELECT id, cid AS cell FROM (
    SELECT b.id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY b.id
                              ORDER BY {_cos_sql(_dbl("b.vec"), _dbl("c.cvec"))} DESC, c.cid) AS crn
    FROM base b CROSS JOIN cents c
  ) WHERE crn = 1
), cell_sizes AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz FROM assigned GROUP BY cell
), qranks AS (
  SELECT query_id, cid,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_cos_sql(_dbl("q.qvec"), _dbl("c.cvec"))} DESC, c.cid) AS crank
  FROM q CROSS JOIN cents c
), topk AS (
  SELECT s.query_id, qr.crank FROM (
    SELECT b.id, q.query_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql(_dbl("b.vec"), _dbl("q.qvec"))} DESC, b.id) AS rn
    FROM base b CROSS JOIN q WHERE b.id != q.query_id
  ) s
  JOIN assigned a ON a.id = s.id
  JOIN qranks qr ON qr.query_id = s.query_id AND qr.cid = a.cell
  WHERE s.rn <= {IVF_SWEEP_K}
), cand AS (
  SELECT qr.query_id, qr.crank, COALESCE(cs.sz, 0) AS sz
  FROM qranks qr LEFT JOIN cell_sizes cs ON cs.cell = qr.cid
), consts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_corpus,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries
)
SELECT CAST(np AS BIGINT) AS nprobe,
       n_queries,
       CAST((1000 * (SELECT COUNT(*) FROM topk t WHERE t.crank <= np))
            // (n_queries * {IVF_SWEEP_K}) AS BIGINT) AS recall_permille,
       CAST((1000 * (SELECT COALESCE(SUM(sz), 0) FROM cand c WHERE c.crank <= np))
            // (n_queries * n_corpus) AS BIGINT) AS candidates_permille
FROM consts CROSS JOIN (SELECT UNNEST([{probes}]) AS np)
ORDER BY nprobe
"""


IVF_SWEEP_SQL = _ivf_sweep_sql()


# --------------------------------------------- kNN label accuracy

KNN_EVAL_K = 10
KNN_EVAL_N_QUERIES = 30


def knn_label_accuracy(
    emb: DataFrame,
    k: int = KNN_EVAL_K,
    n_queries: int = KNN_EVAL_N_QUERIES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classifier evaluation per label: top-1 and majority-of-k
    accuracy of the exact cosine neighbourhood against the query's own
    label — the NONPARAMETRIC separability audit completing the
    triangle: [[fisher_separability_stats]] scores linear (scatter)
    separability, [[retrieval_ndcg_eval]] grades the ranking, this asks
    the deployment question directly — would a kNN probe on this space
    classify correctly?  A space can fail Fisher (nonlinear clusters)
    and still ace kNN; both numbers together tell you which probe to
    train.

    Exactness: cosine is the certified sequential-fold double used ONLY
    to rank (desc, id tie-break); the majority vote is a count with a
    TOTAL tie order (count desc, label asc — ties go to the smaller
    label, both engines share the literal rule); accuracies are
    floor-div permilles of exact counts.

    Scale shape: the audit configuration — queries broadcast against
    the corpus, one linear pair pass, per-query WindowGroupLimit-pruned
    top-k, then (query × label)-grain vote counts."""
    base = emb.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == _BINARY_DIM)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(label_col).cast("long").alias("lbl"),
    )
    q = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("lbl").alias("qlbl"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            "qlbl",
            "id",
            "lbl",
            # the Arrow kernel: bit-identical to the sequential fold,
            # ~100x less interpreter than the HOF on the hot corpus pass
            cosine_pd(F.col("vec"), F.col("qvec")).alias("cos"),
        )
    )
    topk = _rank(scored, F.desc("cos"), "id", k, name="rn")
    votes = topk.groupBy("query_id", "qlbl", "lbl").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes"),
        F.min(F.when(F.col("rn") == 1, F.col("lbl"))).alias("nn1"),
    )
    verdicts = (
        _rank(votes, F.desc("n_votes"), "lbl", name="vr")
        .groupBy("query_id", "qlbl")
        .agg(
            F.max(F.when(F.col("vr") == 1, F.col("lbl"))).alias("maj_lbl"),
            F.max("nn1").alias("nn1_lbl"),
        )
    )
    return (
        verdicts.groupBy(F.col("qlbl").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum((F.col("nn1_lbl") == F.col("qlbl")).cast("long"))
            .cast("long")
            .alias("top1_correct"),
            F.sum((F.col("maj_lbl") == F.col("qlbl")).cast("long"))
            .cast("long")
            .alias("maj_correct"),
        )
        .select(
            "label",
            "n_queries",
            "top1_correct",
            "maj_correct",
            F.expr("div(1000 * top1_correct, n_queries)").alias("top1_permille"),
            F.expr("div(1000 * maj_correct, n_queries)").alias("maj_permille"),
        )
        .orderBy("label")
    )


def q_knn_label_accuracy(spark, sf_dir: str) -> DataFrame:
    return knn_label_accuracy(table(spark, sf_dir, "embeddings"))


def _knn_sql() -> str:
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding AS vec, CAST(label AS BIGINT) AS lbl
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_BINARY_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND label IS NOT NULL
), q AS (
  SELECT id AS query_id, vec AS qvec, lbl AS qlbl FROM base
  WHERE id < {KNN_EVAL_N_QUERIES}
), topk AS (
  SELECT * FROM (
    SELECT q.query_id, q.qlbl, b.id, b.lbl,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql(_dbl("b.vec"), _dbl("q.qvec"))} DESC, b.id) AS rn
    FROM base b CROSS JOIN q WHERE b.id != q.query_id
  ) WHERE rn <= {KNN_EVAL_K}
), votes AS (
  SELECT query_id, qlbl, lbl,
         CAST(COUNT(*) AS BIGINT) AS n_votes,
         MIN(CASE WHEN rn = 1 THEN lbl END) AS nn1
  FROM topk GROUP BY query_id, qlbl, lbl
), verdicts AS (
  SELECT query_id, qlbl,
         MAX(CASE WHEN vr = 1 THEN lbl END) AS maj_lbl,
         MAX(nn1) AS nn1_lbl
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, lbl) AS vr
    FROM votes
  ) GROUP BY query_id, qlbl
)
SELECT qlbl AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN nn1_lbl = qlbl THEN 1 ELSE 0 END) AS BIGINT)
         AS top1_correct,
       CAST(SUM(CASE WHEN maj_lbl = qlbl THEN 1 ELSE 0 END) AS BIGINT)
         AS maj_correct,
       CAST((1000 * SUM(CASE WHEN nn1_lbl = qlbl THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS top1_permille,
       CAST((1000 * SUM(CASE WHEN maj_lbl = qlbl THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS maj_permille
FROM verdicts GROUP BY qlbl ORDER BY qlbl
"""


KNN_ACCURACY_SQL = _knn_sql()
