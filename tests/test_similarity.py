"""Similarity search: brute-force correctness + LSH/IVF recall."""

from pyspark.sql import functions as F

from wurzel_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign,
    lsh_topk,
)
from wurzel_spark.tables import table


def test_brute_force_topk_matches_local(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    got = brute_force_topk(emb, q, k=5).collect()
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    # local recompute
    import numpy as np

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    qv = vecs[0]
    sims = {
        vid: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        for vid, v in vecs.items()
        if vid != 0
    }
    expected = [vid for vid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
    assert [r["neighbor_id"] for r in got] == expected


def test_lsh_topk_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    planes = [r["embedding"] for r in emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()]
    exact = brute_force_topk(emb, q, k=10).collect()
    approx = lsh_topk(emb, q, planes, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q_] & approx_sets.get(q_, set())) / len(exact_sets[q_])
        for q_ in exact_sets
    ]
    # 3 hyperplanes → 8 buckets over 500 vectors; recall is partial but must
    # be well above random (10/500 = 2%)
    assert sum(recalls) / len(recalls) > 0.2


def test_ivf_assign_covers_all(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    cells = ivf_assign(emb, cents)
    assert cells.count() == emb.count()
    n_cells = cells.select("cell").distinct().count()
    assert 1 < n_cells <= 8


def test_ivf_topk_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from wurzel_spark.operators.similarity import brute_force_topk, ivf_topk
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    query = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, query, k=10).collect()
    approx = ivf_topk(emb, query, centroids, k=10, nprobe=3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # every query must return k candidates from its probed cells, and the
    # probe must recover a nontrivial share of the exact neighbors
    assert all(len(v) == 10 for v in approx_sets.values())
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) > 0.2


def test_cosine_lsh_pairs_subset_of_exact_and_no_nested_loop(spark, sf_dir):
    from wurzel_spark.operators.similarity import (
        cosine_exact_pairs,
        cosine_lsh_near_dup_pairs,
    )

    emb = table(spark, sf_dir, "embeddings")
    planes = [
        r["embedding"] for r in emb.filter(F.col("vec_id") < 24).orderBy("vec_id").collect()
    ]
    lsh = cosine_lsh_near_dup_pairs(emb, planes, bands=4, threshold=0.5)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan  # equi band join, no cartesian
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in lsh.collect()}
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_exact_pairs(emb, threshold=0.5).collect()
    }
    assert set(got) <= set(exact)  # LSH verification is exact → no false positives
    for pair, sim in got.items():
        assert abs(sim - exact[pair]) < 1e-12


def test_cosine_lsh_pairs_find_planted_duplicate(spark):
    from wurzel_spark.operators.similarity import cosine_lsh_near_dup_pairs

    # 40 corpus vectors + a planted near-identical pair (ids 100, 101)
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)], 0) for i in range(40)]
    base = rng.randn(16)
    rows.append((100, [float(x) for x in base], 0))
    rows.append((101, [float(x) for x in base + 0.01 * rng.randn(16)], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    planes = [r[0] for r in emb.filter(F.col("vec_id") < 24).select("embedding").orderBy("vec_id").collect()]
    got = {(r["id_a"], r["id_b"]) for r in cosine_lsh_near_dup_pairs(emb, planes, bands=4, threshold=0.9).collect()}
    assert (100, 101) in got


def _recall_vs_exact(exact_rows, approx_rows):
    exact_sets, approx_sets = {}, {}
    for r in exact_rows:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx_rows:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    return sum(recalls) / len(recalls)


def test_kmeans_train_improves_or_matches_ivf_recall(spark, sf_dir):
    """Lloyd-trained centroids must give ivf_topk recall >= the fixed-seed
    centroids (VERDICT r3 #5 done-criterion)."""
    from pyspark.sql import functions as F

    from wurzel_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_train,
    )
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, query, k=10).collect()

    seed_cents = emb.filter(F.col("vec_id") < 8)
    seed_recall = _recall_vs_exact(
        exact, ivf_topk(emb, query, seed_cents, k=10, nprobe=3).collect()
    )

    trained = kmeans_train(emb, k=8, max_iters=3).select(
        F.col("cell").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    trained_recall = _recall_vs_exact(
        exact, ivf_topk(emb, query, trained, k=10, nprobe=3).collect()
    )
    assert trained_recall >= seed_recall


def test_kmeans_train_fixpoint_and_membership(spark, sf_dir):
    """Convergence: training twice as long can only stop at the same
    fixpoint or keep moving; either way all vectors stay covered and
    member counts sum to the corpus."""
    from pyspark.sql import functions as F

    from wurzel_spark.operators.similarity import kmeans_train
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    t = kmeans_train(emb, k=8, max_iters=3)
    rows = t.collect()
    assert len(rows) == 8
    assert all(len(r["centroid"]) == 64 for r in rows)
    assert sum(r["n_members"] for r in rows) == emb.count()


def test_kmeans_train_reseed_empty_cell(spark):
    """A seed that duplicates another seed yields an empty cell after the
    first assignment (ties go to the lower cell id). Default rule keeps
    the previous centroid; reseed_empty must repoint the empty cell at the
    globally worst-fit vector instead."""
    import numpy as np

    from wurzel_spark.operators.similarity import kmeans_train

    rng = np.random.default_rng(7)
    # seeds 0 and 1 identical; one far outlier is the worst-fit vector
    base = [[1.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]]
    cluster_a = [list(np.array([1, 0, 0, 0]) + rng.normal(0, 0.01, 4)) for _ in range(10)]
    outlier = [[0.0, 0.0, 1.0, 0.0]]
    vecs = base + cluster_a + outlier
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    kept = {r["cell"]: r for r in kmeans_train(df, k=2, max_iters=1).collect()}
    res = {r["cell"]: r for r in kmeans_train(df, k=2, max_iters=1, reseed_empty=True).collect()}
    # iteration 1 assigns everything to cell 0 (tie-break), so cell 1 is empty
    assert kept[1]["n_members"] == 0
    # default: empty cell keeps its seed centroid
    assert kept[1]["centroid"] == [1.0, 0.0, 0.0, 0.0]
    # reseed: empty cell repointed at the worst-fit vector (the outlier)
    assert res[1]["centroid"] == [0.0, 0.0, 1.0, 0.0]
    # training on with reseed: both cells end non-empty
    full = kmeans_train(df, k=2, max_iters=4, reseed_empty=True).collect()
    assert all(r["n_members"] > 0 for r in full)


def test_kmeans_driver_path_equals_distributed(spark, sf_dir, gates_off):
    """The size-guarded driver Lloyd (numpy, fold-exact) and the
    distributed loop produce BYTE-identical centroids/counts — same
    equivalence contract as the union-find/min-label clusterer pair."""
    from wurzel_spark.operators.similarity import kmeans_train
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, kmeans_train(emb, k=8, max_iters=3).collect()))
    with gates_off():
        b = sorted(map(tuple, kmeans_train(emb, k=8, max_iters=3).collect()))
    assert a == b
    ar = sorted(
        map(tuple, kmeans_train(emb, k=6, max_iters=4, reseed_empty=True).collect())
    )
    with gates_off():
        br = sorted(
            map(
                tuple,
                kmeans_train(emb, k=6, max_iters=4, reseed_empty=True).collect(),
            )
        )
    assert ar == br


def test_multiprobe_lsh_recall_beats_single_probe(spark, sf_dir):
    """Multi-probe LSH recall is monotone in the probe count and beats the
    single-bucket probe (it strictly widens the candidate set). Measured
    on this corpus: 6 planes -> single 0.0, 4 probes 0.2, 8 probes 0.37,
    16 probes 0.6."""
    from pyspark.sql import functions as F

    from wurzel_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multiprobe,
    )
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    planes = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(brute_force_topk(emb, queries, k=10))
    single = pairs(lsh_topk(emb, queries, planes, k=10))
    m4 = pairs(lsh_topk_multiprobe(emb, queries, planes, k=10, probes=4))
    m16 = pairs(lsh_topk_multiprobe(emb, queries, planes, k=10, probes=16))
    r = lambda got: len(got & exact) / len(exact)  # noqa: E731
    assert r(m4) >= r(single)
    assert r(m16) >= r(m4)
    assert r(m16) >= 0.4


# ------------------------------------------------- product quantization

def test_pq_topk_recall_floor_vs_bruteforce(spark, sf_dir):
    """ADC ranking over 4-bit codes must keep a meaningful fraction of the
    exact cosine top-10 (8 subspaces × 16 codewords on 64-dim data)."""
    from wurzel_spark.operators.similarity import brute_force_topk, pq_topk
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, q, k=10).collect()
    approx = pq_topk(emb, q, k=10).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    ap = {}
    for r in approx:
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(ex[qid] & ap[qid]) / len(ex[qid]) for qid in ex]
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_pq_topk_deterministic_across_runs(spark, sf_dir):
    """The subspace-ordered fold makes the ADC ranking bit-stable — two
    executions must produce identical rows (ties included)."""
    from wurzel_spark.operators.similarity import pq_topk
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = [tuple(r) for r in pq_topk(emb, q, k=10).collect()]
    b = [tuple(r) for r in pq_topk(emb, q, k=10).collect()]
    assert a == b


def test_pq_codes_compress_every_vector(spark, sf_dir):
    """Every corpus vector must get exactly m codes, each within
    [0, ksub)."""
    from wurzel_spark.operators.similarity import pq_codebook, pq_encode
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    codes = pq_encode(emb, pq_codebook(emb)).collect()
    n_vecs = emb.count()
    assert len(codes) == n_vecs * 8
    assert all(0 <= r.code < 16 for r in codes)


def test_pq_rerank_recovers_exact_topk(spark, sf_dir):
    """With an exact-rerank shortlist of 100, the PQ pipeline must recover
    (nearly) the exact cosine top-10 — quantization only has to keep true
    neighbors inside the shortlist."""
    from wurzel_spark.operators.similarity import brute_force_topk, pq_topk
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, q, k=10).collect()
    rr = pq_topk(emb, q, k=10, rerank=100).collect()
    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in rr:
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(ex[qid] & ap[qid]) / len(ex[qid]) for qid in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


# ----------------------------------------------------- hybrid RRF fusion

def test_hybrid_rrf_merges_both_branches(spark, sf_dir):
    """A doc ranked by BOTH branches must out-score a doc ranked at the
    same position by only one branch; branch-only docs still surface."""
    from wurzel_spark.operators.similarity import hybrid_rrf_topk
    from wurzel_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    out = hybrid_rrf_topk(docs, emb, k=10).collect()
    assert len(out) == 30  # 3 queries x 10
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        scores = [r.rrf_score for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
    # two-branch max: 1/61 + 1/61; one-branch max: 1/61
    assert max(r.rrf_score for r in out) <= 2 / 61 + 1e-12


def test_sq8_codes_bounded_and_reconstruction_tight(spark):
    from wurzel_spark.operators.similarity import sq8_code_stats

    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in sq8_code_stats(emb).collect()}
    # codes stay inside the int8 symmetric range
    assert out[1]["min_code"] >= -128 and out[1]["max_code"] <= 127
    # max element quantizes to ±127 exactly: err bounded by one level
    assert out[1]["max_recon_err"] <= out[1]["max_abs"] / 127 + 1e-12
    # zero vector: all-zero codes, zero error
    assert out[2]["n_zero_codes"] == 4 and out[2]["max_recon_err"] == 0.0
    # single-element vector: code = floor(127) = 127, perfect direction
    assert out[3]["max_code"] == 127


def test_ivfpq_recall_and_rerank_recovery(spark, sf_dir):
    from wurzel_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, cents, k=10, nprobe=3).collect()
    }
    rr = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, cents, k=10, nprobe=3, rerank=100).collect()
    }
    # probing 3/8 cells bounds the candidate pool; quantized ADC ranking
    # inside it still has to find a fair share of true neighbors
    assert len(adc & exact) / len(exact) >= 0.2
    # exact rerank recovers everything the probe recalls: strictly >= ADC
    assert len(rr & exact) >= len(adc & exact)


def test_ivfpq_is_deterministic_across_partitionings(spark, sf_dir):
    from wurzel_spark.operators.similarity import ivfpq_topk
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    cents = emb.filter(F.col("vec_id") < 8)
    a = [tuple(r) for r in ivfpq_topk(emb, queries, cents, k=5, nprobe=2).collect()]
    b = [
        tuple(r)
        for r in ivfpq_topk(emb.repartition(7), queries, cents, k=5, nprobe=2).collect()
    ]
    assert a == b


def test_index_drift_zero_for_identical_halves(spark):
    from wurzel_spark.operators.similarity import index_drift_stats

    # even/odd ids carry IDENTICAL vectors → per-cell shares match exactly
    base = [[float(i == j) for j in range(8)] for i in range(4)]
    rows = [(2 * i, base[i % 4]) for i in range(20)] + [
        (2 * i + 1, base[i % 4]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(i, base[i]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    out = index_drift_stats(
        emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 != 0"), cents
    ).collect()
    assert all(r["share_diff_scaled"] == 0 for r in out)


def test_index_drift_detects_shift(spark):
    from wurzel_spark.operators.similarity import index_drift_stats

    a = [1.0] + [0.0] * 7
    b = [0.0, 1.0] + [0.0] * 6
    rows = [(2 * i, a) for i in range(10)] + [(2 * i + 1, b) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, a), (1, b)], "vec_id long, embedding array<float>"
    )
    out = {r["cell"]: r for r in index_drift_stats(
        emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 != 0"), cents
    ).collect()}
    # old mass all in cell 0, new mass all in cell 1 → max drift each
    assert out[0]["share_diff"] == 1.0 and out[1]["share_diff"] == 1.0


def test_matryoshka_recall_full_dims_monotone_tendency(spark, sf_dir):
    from wurzel_spark.operators.similarity import matryoshka_recall_stats
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    out = matryoshka_recall_stats(
        emb, emb.filter(F.col("vec_id") < 2), dims=(8, 64)
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r["query_id"], {})[r["dims"]] = r["recall_at_k"]
    for q, d in per.items():
        assert d[64] == 1.0          # full dims reproduce the full ranking
        assert 0.0 <= d[8] <= 1.0    # truncation is measured, not assumed


def test_ivf_write_partition_pruning(spark, sf_dir, tmp_path):
    """The written layout must prune at the DIRECTORY level: a cell
    filter shows up as a PartitionFilter and the matching scan reads only
    that cell's files."""
    import glob as _glob

    from wurzel_spark.operators.similarity import ivf_write
    from wurzel_spark.plans import plan_text
    from wurzel_spark.tables import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "ivf_layout")
    ivf_write(emb, emb.filter(F.col("vec_id") < 4), p)
    # one directory per non-empty cell
    dirs = sorted(_glob.glob(p + "/cell=*"))
    assert 1 <= len(dirs) <= 4
    back = spark.read.parquet(p)
    assert back.count() == emb.count()
    probed = back.filter(F.col("cell") == 0)
    t = plan_text(probed)
    assert "PartitionFilters" in t and "cell" in t.split("PartitionFilters")[1][:120], t


def test_pq_encode_empty_codebook_returns_empty(spark):
    """An empty codebook (no corpus ids seeded it) must yield an empty,
    correctly-typed code frame — not IndexError on the collected rows."""
    from wurzel_spark.operators.similarity import pq_encode

    emb = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    cb = spark.createDataFrame([], "sub int, code int, cw array<double>")
    out = pq_encode(emb, cb, m=2)
    assert out.columns == ["vec_id", "sub", "code"]
    assert out.count() == 0


def test_zero_norm_vector_fails_loudly(spark):
    """A zero vector has no cosine. The kernel raises instead of ranking
    its NaN above every neighbour or centroid; Lloyd's driver path raises
    like its distributed twin."""
    import pytest

    from wurzel_spark.operators.similarity import kmeans_train

    rows = [(i, [1.0 + (i == j) for j in range(4)]) for i in range(1, 6)]
    emb = spark.createDataFrame(rows + [(0, [0.0] * 4)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="zero-norm"):
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=3).collect()
    with pytest.raises(Exception, match="zero-norm"):
        ivf_assign(emb, emb.filter(F.col("vec_id").isin(1, 2))).collect()
    with pytest.raises(Exception, match="zero-norm"):
        kmeans_train(emb, k=2, max_iters=1).collect()
