"""Quantized PageRank: exact reproducibility + ranking semantics."""

from pyspark.sql import functions as F

from wurzel_spark.operators.graph import SCALE, quantized_pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_hub_ranks_highest_and_mass_conserved(spark):
    # star graph: node 0 linked (both ways) with 1..5 → 0 is the hub
    pairs = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    out = {r["node"]: r["rank_scaled"] for r in quantized_pagerank(_edges(spark, pairs)).collect()}
    assert max(out, key=out.get) == 0
    leaves = [out[i] for i in range(1, 6)]
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly
    # quantized mass conservation: floor losses only ever REMOVE mass,
    # a few units per node per iteration
    assert 0 < SCALE - sum(out.values()) < 6 * 3 * 10  # nodes × iters × slack


def test_partitioning_independence_bitwise(spark):
    import random

    rng = random.Random(7)
    pairs = list({(rng.randrange(50), rng.randrange(50)) for _ in range(300)})
    pairs = [(a, b) for a, b in pairs if a != b]
    e1 = _edges(spark, pairs)
    e2 = _edges(spark, pairs).repartition(13)
    r1 = sorted(map(tuple, quantized_pagerank(e1).collect()))
    r2 = sorted(map(tuple, quantized_pagerank(e2).collect()))
    assert r1 == r2  # bit-identical under any layout


def test_matches_pure_python_reference(spark):
    """The Spark loop == a literal Python transcription of the recurrence."""
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3)]
    out = {r["node"]: r["rank_scaled"] for r in quantized_pagerank(_edges(spark, pairs)).collect()}
    nodes = sorted({x for p in pairs for x in p})
    n = len(nodes)
    deg = {}
    for s, _ in pairs:
        deg[s] = deg.get(s, 0) + 1
    base = (15 * SCALE) // (100 * n)
    r = {v: SCALE // n for v in nodes}
    for _ in range(3):
        nxt = {v: base for v in nodes}
        for s, d in pairs:
            nxt[d] += (85 * r[s]) // (100 * deg[s])
        r = nxt
    assert out == r


def test_transitivity_triangle_vs_chain(spark):
    """The diagnostic's discriminating power: a triangle scores 1.0, a
    chain of the same size scores 0 — and a star (the hot-node shape the
    degree orientation exists for) counts its wedges but no triangles."""
    from wurzel_spark.operators.graph import graph_transitivity

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_a long, id_b long")
    r = graph_transitivity(tri).collect()[0]
    assert (r["n_triangles"], r["n_wedges"]) == (1, 3)
    assert r["clustering_coefficient"] == 1.0

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    r = graph_transitivity(chain).collect()[0]
    assert r["n_triangles"] == 0 and r["n_wedges"] == 2
    assert r["clustering_coefficient"] == 0.0

    star = spark.createDataFrame([(1, i) for i in range(2, 8)], "id_a long, id_b long")
    r = graph_transitivity(star).collect()[0]
    assert r["n_triangles"] == 0 and r["n_wedges"] == 15  # C(6,2)
    # clique K4: 4 triangles, 12 wedges, coefficient 1
    import itertools

    k4 = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(1, 5), 2)],
        "id_a long, id_b long",
    )
    r = graph_transitivity(k4).collect()[0]
    assert (r["n_triangles"], r["n_wedges"]) == (4, 12)
    assert r["clustering_coefficient"] == 1.0


# ------------------------------------------------------------- k-core

def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_kcore_clique_survives_chain_peels(spark):
    """4-clique {1,2,3,4} + tail chain 4-5-6-7: the chain peels away
    round by round at k=2; the clique survives with induced degree 3."""
    from wurzel_spark.operators.graph import graph_kcore

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    out = {r["node"]: r["core_deg"] for r in graph_kcore(_pairs(spark, clique + chain), k=2).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_k3_requires_dense_core(spark):
    from wurzel_spark.operators.graph import graph_kcore

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    triangle = [(10, 11), (11, 12), (10, 12)]
    out = {r["node"]: r["core_deg"] for r in graph_kcore(_pairs(spark, clique + triangle), k=3).collect()}
    # the triangle (max degree 2) peels; the 4-clique is the 3-core
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_converges_before_round_cap(spark):
    """A chain of length 9 needs ⌈9/2⌉-ish rounds to fully peel at k=2;
    rounds=8 and rounds=16 agree (fixpoint reached within the cap)."""
    from wurzel_spark.operators.graph import graph_kcore

    chain = [(i, i + 1) for i in range(1, 10)]
    a = sorted(map(tuple, graph_kcore(_pairs(spark, chain), k=2, rounds=8).collect()))
    b = sorted(map(tuple, graph_kcore(_pairs(spark, chain), k=2, rounds=16).collect()))
    assert a == b == []  # a pure chain has no 2-core


def test_kcore_driver_and_distributed_paths_bit_equal(spark, gates_off):
    """Round-10 size gate: below common.DRIVER_MAX_EDGES the peel runs
    driver-side (the union-find precedent). Both paths must be
    bit-equal on adversarial shapes — including an onion DEEPER than
    the round cap, where the capped (non-converged) state is the
    contract, not the true fixpoint."""
    import itertools
    import random

    import wurzel_spark.operators.graph as G

    def pairs(edges):
        return spark.createDataFrame(sorted(edges), "id_a long, id_b long")

    cl1 = set(itertools.combinations(range(10, 14), 2))
    cl2 = set(itertools.combinations(range(20, 25), 2))
    rng = random.Random(7)
    fixtures = [
        {(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)},      # triangle + tail
        {(0, i) for i in range(1, 8)},                  # star: empty 2-core
        cl1 | cl2 | {(13, 20)},                         # bridged cliques
        {tuple(sorted(rng.sample(range(40), 2))) for _ in range(120)},
        {(i, i + 1) for i in range(30)},                # chain deeper than cap
        # ADVICE r10: duplicate, reversed-duplicate, and self-loop edges
        # must not split the paths (driver sets dedupe implicitly; the
        # distributed loop dedupes explicitly)
        [(1, 2), (1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (4, 4), (8, 9)],
        [(1, 1), (1, 2), (2, 1), (1, 2)],
    ]
    for edges in fixtures:
        d = pairs(list(edges))
        drv = [
            tuple(r)
            for r in G._kcore_driver(
                d.localCheckpoint(), G.KCORE_K, G.KCORE_ROUNDS
            ).collect()
        ]
        with gates_off():  # force the distributed loop
            dist = [tuple(r) for r in G.graph_kcore(d).collect()]
        assert drv == dist, (sorted(edges)[:5], drv, dist)


def test_pagerank_driver_and_distributed_paths_bit_equal(spark, gates_off):
    """Round-10 size gate for quantized PageRank: driver and distributed
    paths must be BIT-equal (the whole point of integer quantization) on
    directed, bipartite-undirected, sink-heavy and random shapes."""
    import random

    import wurzel_spark.operators.graph as G

    def edges_df(edges):
        return spark.createDataFrame(sorted(edges), "src long, dst long")

    rng = random.Random(11)
    fixtures = [
        {(1, 2), (2, 3), (3, 1)},                       # cycle
        {(1, 2), (1, 3), (1, 4)},                       # star w/ sinks
        {(i, 100 + i % 5) for i in range(20)}
        | {(100 + i % 5, i) for i in range(20)},        # bipartite both ways
        {(rng.randrange(30), rng.randrange(30)) for _ in range(150)},
    ]
    for edges in fixtures:
        edges = {(a, b) for a, b in edges if a != b} or {(0, 1)}
        d = edges_df(edges)
        drv = [tuple(r) for r in G.quantized_pagerank(d).collect()]
        with gates_off():  # force the distributed loop
            dist = sorted(tuple(r) for r in G.quantized_pagerank(d).collect())
        assert sorted(drv) == dist, (sorted(edges)[:5], drv[:5], dist[:5])
        # rank mass ≈ SCALE (floor drain only)
        total = sum(r for _, r in drv)
        assert 0 < total <= G.SCALE
