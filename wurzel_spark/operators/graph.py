"""Distributed graph analytics: exactly-reproducible quantized PageRank.

PageRank in floating point is NOT engine-reproducible — the per-node
in-neighbor sum is order-dependent, so the same graph scores differently
across partitionings, engines, and runs. This implementation quantizes
rank mass to INTEGER units (SCALE = 10¹²) and keeps every operation in
exact integer arithmetic:

    S₀(v)    = SCALE // N
    Sₖ₊₁(v) = BASE + Σ_{u→v} (85 · Sₖ(u)) // (100 · deg(u))
    BASE     = (15 · SCALE) // (100 · N)

Floor division of non-negative integers is identical in every engine,
integer sums are order-independent (decimal(38,0) guards the reduce), so
k iterations produce BIT-IDENTICAL ranks on Spark, DuckDB (``//``), or a
Python loop — the same determinism contract as the fixed-point quality
classifier (operators/classifier.py). The quantization error vs real
PageRank is ≤ in-degree ulps of 10⁻¹² per iteration — far below any
ranking decision.

Scale shape: the fixed k iterations are unrolled into ONE plan over the
checkpointed edge list — the degree-annotated adjacency subtree is
identical in every iteration, so AQE stage reuse exchanges the edge set
once for the whole run and each iteration adds only node-grain work
(rank join + contributions grouped by dst). Rounds are fixed (k), not
convergence-probed — the reproducibility contract needs a deterministic
iteration count.

The registered query runs it over the customer→supplier PURCHASE graph
(who buys from whom, via orders ⨝ lineitem): rank mass flows from
customers to the suppliers they buy from and back, a bipartite
importance measure of the supply network.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.operators import common
from wurzel_spark.tables import table

SCALE = 10**12
N_ITERS = 3


def _pagerank_driver(spark, pdf, n_iters: int) -> DataFrame:
    """Driver-side quantized iterations — bit-equal to the distributed
    loop because every operation is the same exact integer arithmetic.
    Vectorized: at the 1M-edge gate a per-edge Python dict loop was
    ~2 s per call (3 iterations × ~1M inner appends/adds); the numpy
    form — node relabeling via sorted unique + searchsorted, out-degree
    via bincount, inflow via ``np.add.at`` — is the same int64 algebra
    (85·rank ≤ 8.5×10¹³ ≪ 2⁶³; // on non-negative int64 matches Python)
    in a few vectorized passes. Takes the edge list as a pandas frame
    (Arrow transfer — py4j Row collection was the driver path's own
    bottleneck at ~10⁵ edges)."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    nodes = np.unique(np.concatenate([src, dst]))
    n = int(nodes.size)
    if n == 0:
        return spark.createDataFrame([], "node long, rank_scaled long")
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    base = (15 * SCALE) // (100 * n)
    rank = np.full(n, SCALE // n, dtype=np.int64)
    safe_deg = np.maximum(deg, 1)  # deg==0 rows are never indexed via si
    for _ in range(n_iters):
        c_edge = ((85 * rank) // (100 * safe_deg))[si]
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, di, c_edge)
        rank = base + inflow
    out = pd.DataFrame({"node": nodes, "rank_scaled": rank})
    return spark.createDataFrame(out, "node long, rank_scaled long")


def quantized_pagerank(
    edges: DataFrame,
    n_iters: int = N_ITERS,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """(node, rank_scaled) after ``n_iters`` quantized iterations over a
    DIRECTED edge list (run both directions through for an undirected
    graph). rank_scaled sums to ≈ SCALE (floor losses drain a few ulps
    per iteration — deterministically). ``assume_distinct=True`` skips
    the defensive edge dedup when the caller can PROVE the list is
    already distinct (one full exchange of the edge set saved)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # checkpoint BEFORE the gate: the gate's count and the driver path's
    # Arrow pull both read the materialized edges instead of re-running
    # the upstream join+distinct (measured: gating on a bare count made
    # the driver path recompute the subtree twice, 3.4 → 4.5 s)
    e = e.localCheckpoint(eager=True)  # reused every iteration / both reads
    # below the gate the iterations run driver-side (the union-find /
    # k-core precedent): n_iters × 4 scheduled jobs are pure overhead on
    # a graph whose edge list fits one collect; arithmetic is identical
    # exact-integer either way (equivalence-tested). Above the gate the
    # distributed loop below is the scale path.
    if common.fits(e.count(), common.DRIVER_MAX_EDGES):
        return _pagerank_driver(edges.sparkSession, e.toPandas(), n_iters)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    # The k iterations are UNROLLED into one plan (guide §2): with a
    # per-iteration localCheckpoint, every iteration re-exchanged the
    # full EDGE set into its rank join (a checkpoint scan comes back as
    # UnknownPartitioning — nothing co-partitions across jobs), so k
    # iterations paid k edge-grain shuffles + k scheduled jobs. In the
    # single unrolled plan the degree-annotated adjacency subtree
    # (edge exchange + deg aggregate over the SAME checkpointed e) is
    # canonically identical in every iteration, so AQE stage reuse
    # materializes it ONCE and the remaining per-iteration work is
    # node-grain only (rank join + contribution groupBy — whose output
    # partitioning on `node` feeds the next iteration's join without a
    # re-exchange). Lineage depth is bounded: k is a fixed constant
    # (the reproducibility contract), exactly like the oracle's
    # unrolled r1..r3 CTEs.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adj = e.join(deg, "src")
    base = (15 * SCALE) // (100 * n)
    ranks = nodes.withColumn("rank_scaled", F.lit(SCALE // n).cast("long"))
    for _ in range(n_iters):
        contrib = (
            adj.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                # everything in bigint: 85·rank ≤ 8.5e13 ≪ 2^63
                F.expr(
                    "(85L * cast(rank_scaled as bigint)) div (100L * cast(deg as bigint))"
                ).alias("c"),
            )
        )
        ranks = (
            nodes.join(
                contrib.groupBy("node").agg(
                    F.sum(F.col("c").cast("decimal(38,0)")).cast("long").alias("inflow")
                ),
                "node",
                "left",
            )
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0))).alias(
                    "rank_scaled"
                ),
            )
        )
    return ranks


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized PageRank over the bipartite purchase graph: customer c —
    supplier s whenever c has an order containing a lineitem from s.
    Suppliers are offset by 10^9 so the two id spaces never collide.
    Returns the top-100 nodes by rank (rank desc, node asc — total
    order)."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + F.lit(1_000_000_000)).alias("supp"),
        )
        .distinct()
    )
    # The undirected bipartite graph is the pair set mirrored, so only
    # the HALF-sized pair list is checkpointed and (below the gate)
    # pulled — the mirror is two array concats, driver-side. `pairs` is
    # distinct and the +10^9 supplier offset makes the two directions
    # disjoint (src<10^9 one way, ≥10^9 the other), so the union is
    # distinct by construction either way.
    pairs = pairs.localCheckpoint(eager=True)
    if common.fits(2 * pairs.count(), common.DRIVER_MAX_EDGES):
        import pandas as pd

        half = pairs.toPandas()
        cust = half["cust"].to_numpy()
        supp = half["supp"].to_numpy()
        import numpy as np

        pdf = pd.DataFrame(
            {
                "src": np.concatenate([cust, supp]),
                "dst": np.concatenate([supp, cust]),
            }
        )
        ranks = _pagerank_driver(spark, pdf, N_ITERS)
    else:
        edges = pairs.select(
            F.col("cust").alias("src"), F.col("supp").alias("dst")
        ).union(pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))
        ranks = quantized_pagerank(edges, assume_distinct=True)
    return (
        ranks.orderBy(F.desc("rank_scaled"), F.asc("node")).limit(100)
    )


PAGERANK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT cust AS src, supp AS dst FROM pairs
  UNION
  SELECT supp AS src, cust AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst AS node FROM edges
), meta AS (
  SELECT COUNT(*) AS n FROM (SELECT DISTINCT node FROM nodes)
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT DISTINCT node, {SCALE} // (SELECT n FROM meta) AS rank_scaled FROM nodes
), r1 AS (
  SELECT n.node,
         (15 * {SCALE}) // (100 * (SELECT n FROM meta))
         + COALESCE(SUM((85 * r.rank_scaled) // (100 * d.deg)), 0) AS rank_scaled
  FROM (SELECT DISTINCT node FROM nodes) n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r0 r ON r.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
), r2 AS (
  SELECT n.node,
         (15 * {SCALE}) // (100 * (SELECT n FROM meta))
         + COALESCE(SUM((85 * r.rank_scaled) // (100 * d.deg)), 0) AS rank_scaled
  FROM (SELECT DISTINCT node FROM nodes) n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r1 r ON r.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
), r3 AS (
  SELECT n.node,
         (15 * {SCALE}) // (100 * (SELECT n FROM meta))
         + COALESCE(SUM((85 * r.rank_scaled) // (100 * d.deg)), 0) AS rank_scaled
  FROM (SELECT DISTINCT node FROM nodes) n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r2 r ON r.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
)
SELECT node, CAST(rank_scaled AS BIGINT) AS rank_scaled
FROM r3 ORDER BY rank_scaled DESC, node ASC LIMIT 100
"""


# --------------------------------------------------- graph transitivity

def graph_transitivity(pairs: DataFrame) -> DataFrame:
    """Triangles, wedges, and the global clustering coefficient of an
    undirected edge list (id_a < id_b) — for a near-dup graph this is the
    THRESHOLD diagnostic: true duplicate clusters are near-cliques
    (coefficient → 1), while a too-loose threshold produces chains and
    stars (coefficient → 0), so transitivity tells you whether the pair
    set represents real duplication before you commit to dropping docs.

    Scale shape (the standard distributed triangle count): orient every
    edge from the lower-(degree, id) endpoint — each triangle then has
    exactly ONE wedge whose center precedes both ends, so two hash joins
    enumerate each triangle once and the out-degree of any node is
    bounded by √(2·|E|) (the arboricity argument: intermediate wedge
    volume is O(|E|^1.5) worst case, far below the naive orientation's
    d² hot-node blowup on star graphs). Wedges are a per-node degree
    aggregate; coefficient = 3·triangles / wedges — exact ints, one
    division.
    """
    # the edge list feeds THREE subtrees (both union directions +
    # n_edges); without a cut each re-runs the upstream pair pipeline —
    # for the jaccard inputs that tripled the whole query (r7: 4.8 s →
    # measured below).  Id pairs only: tiny at any scale that can count
    # triangles at all.
    pairs = pairs.localCheckpoint(eager=True)
    und = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    deg = deg.localCheckpoint(eager=True)  # feeds orientation + wedges
    # orient: keep (u, v) where (deg_u, u) < (deg_v, v)
    e = (
        und.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v"
        )
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )
    e = e.localCheckpoint(eager=True)  # three-way self-join reuse
    # wedge (u -> v, u -> w) closes iff (v, w) is an oriented edge
    w1 = e.select(F.col("u").alias("c"), F.col("v").alias("x"))
    w2 = e.select(F.col("u").alias("c"), F.col("v").alias("y"))
    wedges_at_center = w1.join(w2, "c").filter(F.col("x") < F.col("y"))
    closing = e.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
        e.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    tri = wedges_at_center.join(closing, ["x", "y"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    wd = deg.agg(
        F.sum((F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    n_edges = pairs.select(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(wd))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coefficient"),
        )
    )


def q_dup_graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wurzel_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    return graph_transitivity(
        ngram_jaccard_pairs(docs, threshold=0.5, sort=False)
    )


def q_dup_graph_transitivity_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB configuration (VERDICT r6 What's-wrong #2): transitivity
    over the df-CAPPED exact-Jaccard edge stream (`ngram_jaccard_capped`,
    max_df = CAPPED_MAX_DF) instead of the uncapped pair graph. The
    uncapped twin above stays registered as the exactness diagnostic; this
    one rides the bounded edge stream — pair volume is df-capped, so the
    degree-ordered triangle pass inherits the jaccard-capped family's
    growth bound rather than the superlinear uncapped pair graph (the
    10.2× probe traced to input volume in PERF.md r6)."""
    from wurzel_spark.operators.dedup import CAPPED_MAX_DF, ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    return graph_transitivity(
        ngram_jaccard_pairs(docs, threshold=0.5, max_df=CAPPED_MAX_DF, sort=False)
    )


def _transitivity_sql(capped: bool = False) -> str:
    from wurzel_spark.operators.dedup import _CAPPED_PAIRS_CTE, _JACCARD_PAIRS_CTE

    return f"""
WITH {_CAPPED_PAIRS_CTE if capped else _JACCARD_PAIRS_CTE},
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), deg AS (
  SELECT u, COUNT(*) AS deg FROM und GROUP BY u
), e AS (
  SELECT und.u, und.v
  FROM und
  JOIN deg du ON du.u = und.u
  JOIN deg dv ON dv.u = und.v
  WHERE du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v)
), wedges AS (
  SELECT a.v AS x, b.v AS y FROM e a JOIN e b ON a.u = b.u WHERE a.v < b.v
), closing AS (
  SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e
), tri AS (
  SELECT COUNT(*) AS n_triangles FROM wedges SEMI JOIN closing
  ON wedges.x = closing.x AND wedges.y = closing.y
), wd AS (
  SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
         COUNT(*) AS n_nodes
  FROM deg
), ne AS (SELECT COUNT(*) AS n_edges FROM pairs)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN 3.0 * n_triangles / CAST(n_wedges AS DOUBLE)
            ELSE 0.0 END AS clustering_coefficient
FROM tri, wd, ne
"""


TRANSITIVITY_SQL = _transitivity_sql()
TRANSITIVITY_CAPPED_SQL = _transitivity_sql(capped=True)


# ------------------------------------------------------------ k-core

KCORE_K = 2
KCORE_ROUNDS = 8


def _kcore_driver(pairs: DataFrame, k: int, rounds: int) -> DataFrame:
    """Driver-side layer-by-layer peel — the same round semantics as the
    distributed loop (each round drops EVERY node with induced degree
    < k simultaneously, at most ``rounds`` rounds, early exit on a
    stable round), so results are bit-equal."""
    spark = pairs.sparkSession
    adj: dict[int, set[int]] = {}
    # Arrow-batched pull (toPandas), not py4j Row collect — the exact
    # serialization bottleneck the pagerank twin already avoids; at the
    # 1M-edge gate this is the difference between ~100 ms and seconds.
    pdf = pairs.select("id_a", "id_b").toPandas()
    for a, b in zip(pdf["id_a"].astype("int64"), pdf["id_b"].astype("int64")):
        a, b = int(a), int(b)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for _ in range(rounds):
        drop = [u for u, nb in adj.items() if len(nb) < k]
        if not drop:
            break
        for u in drop:
            # pop first: a self-loop would otherwise mutate adj[u] while
            # iterating it, and a neighbor dropped earlier THIS round has
            # already left adj (two adjacent sub-k nodes peel together).
            for v in adj.pop(u):
                if v in adj:
                    adj[v].discard(u)
    out = sorted((u, len(nb)) for u, nb in adj.items() if nb)
    return spark.createDataFrame(out, "node long, core_deg long")


def graph_kcore(
    pairs: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """``rounds``-round k-core peel of an undirected edge list
    (id_a < id_b): repeatedly drop nodes whose degree in the surviving
    induced subgraph is < k, then report the survivors with their
    induced degrees.  On a near-dup graph the k-core is the BOILERPLATE
    CORE — the densest mutually-duplicating region (template farms,
    mirrored FAQ clusters) that cluster-representative selection should
    treat as one unit; chains and stars that transitivity already flags
    as threshold artifacts peel away entirely.  Default k=2 (the CYCLIC
    core): every chain and star vanishes, anything that survives
    duplicates in at least two independent directions — on the sparse
    sf0.01 driver graph that is exactly its one triangle, while k=3
    (4-clique cores) is empty there; raise k with graph density.

    The peel is a decreasing fixpoint, which vanilla recursive CTEs
    can't express (they grow monotonically) — so BOTH engines run the
    SAME fixed ``rounds`` unrolled iterations (the quantized-PageRank /
    unrolled-kmeans precedent): deterministic, oracle-checkable, and in
    practice converged long before round 8 (each round removes a full
    onion layer; the fixture test pins convergence).  Scale shape: per
    round one grouped degree count + two co-partitioned semi joins on
    the SHRINKING edge set, each round checkpointed so lineage stays
    flat (the incremental_cluster_members loop discipline).

    Below ``common.DRIVER_MAX_EDGES`` edges the peel runs driver-side
    (the union-find precedent, dedup.near_dup_cluster_members):
    the dup graph after df-capping is typically thousands of edges, and
    up to ``rounds`` × 4 tiny distributed jobs are pure scheduling
    overhead there (measured 3.2 → 1.5 s at sf0.1). Both paths peel
    whole layers per round and cap at the same ``rounds``, so they are
    bit-equal by construction (equivalence-tested).
    """
    pairs = pairs.localCheckpoint(eager=True)
    n_edges = pairs.count()
    if common.fits(n_edges, common.DRIVER_MAX_EDGES):
        return _kcore_driver(pairs, k, rounds)
    live = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    # The driver twin's set-based adjacency counts a duplicate or
    # non-canonical (b,a) repeat of an edge once; dedupe here so both
    # paths stay bit-equal for ANY input, not just distinct id_a<id_b
    # pairs (one shuffle over the already-small edge set).
    live = live.distinct().localCheckpoint(eager=True)
    prev = live.count()
    for _ in range(rounds):
        deg = live.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        live = (
            live.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        # bit-equal early exit: an unchanged edge COUNT means no node was
        # dropped this round, so every remaining unrolled round is a
        # no-op — the oracle's full unroll reaches the identical set.
        cur = live.count()
        if cur == prev:
            break
        prev = cur
    return (
        live.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .select(F.col("u").alias("node"), "core_deg")
        .orderBy("node")
    )


def q_dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the df-capped exact-Jaccard dup graph — the 100 TB
    configuration (the transitivity_capped precedent)."""
    from wurzel_spark.operators.dedup import CAPPED_MAX_DF, ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    return graph_kcore(
        ngram_jaccard_pairs(docs, threshold=0.5, max_df=CAPPED_MAX_DF, sort=False)
    )


def _kcore_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    from wurzel_spark.operators.dedup import _CAPPED_PAIRS_CTE

    parts = [
        _CAPPED_PAIRS_CTE,
        """e0 AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
)""",
    ]
    for t in range(1, rounds + 1):
        prev = f"e{t - 1}"
        parts.append(
            f"""k{t} AS MATERIALIZED (
  SELECT u FROM (SELECT u, COUNT(*) AS deg FROM {prev} GROUP BY u)
  WHERE deg >= {k}
)"""
        )
        parts.append(
            f"""e{t} AS MATERIALIZED (
  SELECT a.u, a.v FROM {prev} a
  WHERE EXISTS (SELECT 1 FROM k{t} x WHERE x.u = a.u)
    AND EXISTS (SELECT 1 FROM k{t} y WHERE y.u = a.v)
)"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM e{rounds} GROUP BY u ORDER BY node
"""


DUP_GRAPH_KCORE_SQL = _kcore_sql()
