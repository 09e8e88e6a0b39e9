"""Dedup family: exact semantics + LSH recall against exact Jaccard."""

import pandas as pd
from pyspark.sql import functions as F

from wurzel_spark.operators.dedup import (
    combined_near_dup_pairs,
    combined_near_dup_signatures,
    exact_dedup,
    exact_dup_groups,
    minhash_banded_signatures,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)


def _corpus(spark):
    """Synthetic corpus with planted exact + near duplicates."""
    base = " ".join(f"tok{i}" for i in range(120))
    near = " ".join(f"tok{i}" for i in range(118)) + " changed tail"
    other = " ".join(f"different{i}" for i in range(120))
    rows = [
        (0, base),
        (1, base),          # exact dup of 0
        (2, near),          # near dup of 0
        (3, other),
        (4, "short unique text"),
    ]
    # a local relation (pandas), not a list: its size estimate is real, so
    # the near-dup size gates can take the driver twin
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf, "doc_id long, text string")


def test_exact_dup_groups(spark):
    out = {r["representative_id"]: r["n_copies"] for r in exact_dup_groups(_corpus(spark), "text", "doc_id").collect()}
    assert out[0] == 2  # docs 0,1 collapse
    assert out[3] == 1


def test_exact_dedup_keeps_first(spark):
    kept = exact_dedup(_corpus(spark), ["text"], "doc_id").select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [0, 2, 3, 4]  # doc 1 dropped (first-by-doc_id wins)


def test_jaccard_finds_planted_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(_corpus(spark)).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8
    assert (0, 3) not in pairs


def _check_minhash_recall(df):
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(df, threshold=0.5).collect()}
    assert exact, "planted near-dups must exist"
    recall = len(exact & lsh) / len(exact)
    assert recall == 1.0  # high-sim pairs must survive banding
    assert lsh <= exact  # verification step removes false positives


def _check_simhash(df):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(df, max_hamming=3).collect()}
    assert (0, 1) in pairs  # identical text → hamming 0


def _check_combined(df):
    got = combined_near_dup_pairs(df).collect()
    mh = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(df, threshold=0.5).collect()}
    sh = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(df, max_hamming=3).collect()}
    assert {(r["id_a"], r["id_b"]) for r in got if r["method"] == "minhash"} == mh
    assert {(r["id_a"], r["id_b"]) for r in got if r["method"] == "simhash"} == sh
    keys = [(r["method"], r["id_a"], r["id_b"]) for r in got]
    assert keys == sorted(keys)


def test_minhash_lsh_recall_vs_exact(spark):
    _check_minhash_recall(_corpus(spark))


def test_minhash_pairs_id_col_named_cid(spark):
    # the verify step's internal candidate-id alias must not collide with
    # the caller's id column (it once aliased to "cid": AMBIGUOUS_REFERENCE)
    def pairs(id_col):
        df = _corpus(spark).withColumnRenamed("doc_id", id_col)
        out = minhash_dedup_pairs(df, id_col=id_col, threshold=0.5)
        return [tuple(r) for r in out.collect()]

    got = pairs("cid")
    assert got and got == pairs("chunk_id")


def test_simhash_finds_exact_and_near(spark):
    _check_simhash(_corpus(spark))


def test_combined_signatures_match_single_family_ops(spark):
    # one-pass signatures must be bit-identical to the per-family operators
    df = _corpus(spark)
    combo = {r["id"]: r for r in combined_near_dup_signatures(df).collect()}
    for r in simhash64(df).collect():
        assert combo[r["id"]]["simhash"] == r["simhash"]
    for r in minhash_banded_signatures(df).collect():
        assert combo[r["id"]]["signature"] == r["signature"]


def test_combined_pairs_match_union_of_families(spark):
    _check_combined(_corpus(spark))


def test_near_dup_recall_and_parity_with_gates_off(spark, gates_off):
    """The tests above run the near-dup driver twin (the corpus fits its
    gate); the same planted-dup assertions hold for the distributed twin
    and its band join."""
    from wurzel_spark.operators.dedup import _near_pairs_driver

    df = _corpus(spark)
    assert _near_pairs_driver(df, "doc_id", "text", ("minhash",)) is not None
    with gates_off():
        assert _near_pairs_driver(df, "doc_id", "text", ("minhash",)) is None
        _check_minhash_recall(df)
        _check_simhash(df)
        _check_combined(df)


def test_combined_signatures_drop_empty_docs(spark):
    """Zero-word docs must be dropped by ALL three signature builders
    (empty docs share all-sentinel signatures ⇒ O(e²) LSH pairs)."""
    from wurzel_spark.operators.dedup import (
        combined_near_dup_pairs,
        combined_near_dup_signatures,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, ""), (3, "   "), (4, "\n\t")],
        ["doc_id", "text"],
    )
    sigs = combined_near_dup_signatures(df)
    assert [r["id"] for r in sigs.collect()] == [1]
    # and no empty-vs-empty candidate pairs survive end to end
    assert combined_near_dup_pairs(df).count() == 0


def test_strip_duplicated_spans_semantics(spark):
    from wurzel_spark.operators.dedup import (
        duplicated_span_stats,
        strip_duplicated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(20))
    rows = [
        (0, shared + " unique0 tail0"),
        (1, "pre1 " + shared + " tail1"),
        (2, "totally different words only here " + " ".join(f"u{i}" for i in range(25))),
        (3, "short shared exact doc"),
        (4, "short shared exact doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in strip_duplicated_spans(df, n=20).collect()}
    # the shared 20-token span is cut wherever it occurs; unique text stays
    assert got[0]["text_clean"] == "unique0 tail0"
    assert got[1]["text_clean"] == "pre1 tail1"
    assert got[2]["n_tokens_removed"] == 0
    # short exact dups: the whole-doc fallback span wipes both copies
    assert got[3]["text_clean"] == "" and got[4]["text_clean"] == ""
    # removal count is ≥ the stats operator's dup-span count (coverage of
    # overlapping spans ≥ number of duplicated span STARTS is not a given
    # in general, but removed>0 ⟺ dup_span_frac>0 always holds)
    stats = {r["doc_id"]: r for r in duplicated_span_stats(df, n=20).collect()}
    for d in got:
        assert (got[d]["n_tokens_removed"] > 0) == (stats[d]["n_dup_spans"] > 0)


# ------------------------------------------------------------- winnowing

def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Schleimer et al.'s core guarantee: any shared word run of length
    >= w + k - 1 (here 4 + 5 - 1 = 8) yields at least one shared
    fingerprint, so the overlap join must surface the pair."""
    from wurzel_spark.operators.dedup import winnow_overlap_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    df = _docs(
        spark,
        [
            (1, "unique one two three " + shared + " tail tail2 tail3"),
            (2, shared + " completely different ending here nine ten"),
            (3, "no overlap with anything else at all whatsoever"),
        ],
    )
    pairs = winnow_overlap_pairs(df, threshold=0.01).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_winnow_density_below_full_gram_set(spark):
    """Fingerprint count must be well under the gram count (the 2/(w+1)
    expected density is the algorithm's point) yet positive for any doc."""
    from wurzel_spark.operators.dedup import winnow_fingerprints

    text = " ".join(f"w{i % 37}x{i % 11}" for i in range(300))
    out = winnow_fingerprints(_docs(spark, [(1, text)])).collect()[0]
    assert 0 < out.n_fingerprints < out.n_grams
    assert out.n_fingerprints <= out.n_grams - 3  # w-1 windows collapse


def test_winnow_hashers_agree_on_counts_not_values(spark):
    """xxhash64 (scale default) and md5-prefix (oracle) configs select
    different minima but similar densities; both obey the guarantee."""
    from wurzel_spark.operators.dedup import winnow_fingerprints

    text = " ".join(f"tok{i % 53}" for i in range(200))
    df = _docs(spark, [(1, text)])
    a = winnow_fingerprints(df, hasher="md5").collect()[0]
    b = winnow_fingerprints(df, hasher="xxhash64").collect()[0]
    assert a.n_grams == b.n_grams
    assert abs(a.n_fingerprints - b.n_fingerprints) <= a.n_grams // 2


def test_winnow_fingerprints_plan_is_map_only(spark, sf_dir):
    """The per-doc fingerprint pass must not shuffle: one projection over
    the scan (plus the output sort's range exchange at the very top)."""
    from wurzel_spark.operators.dedup import winnow_fingerprints
    from wurzel_spark.plans import plan_text
    from wurzel_spark.tables import table

    df = winnow_fingerprints(table(spark, sf_dir, "documents")).drop("fps")
    t = plan_text(df)
    assert "Exchange hashpartitioning" not in t, t
    assert "BroadcastNestedLoopJoin" not in t and "CartesianProduct" not in t


def test_duplicated_span_stats_scans_the_corpus_once(spark, sf_dir):
    """n_spans comes from the span stream the statistic already builds,
    not from a second scan and split of the documents: both aggregates
    read one shuffle, whose exchange the executed plan reuses."""
    from wurzel_spark.operators.dedup import duplicated_span_stats
    from wurzel_spark.tables import table

    df = duplicated_span_stats(table(spark, sf_dir, "documents"), n=20)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert final.count("FileScan parquet") == 1, final


def test_merge_cluster_labels_matches_full_recompute(spark):
    from wurzel_spark.operators import dedup as D

    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    # new edges: bridge two old components (1..3 with 10,11), extend one
    # (21-22), and introduce a brand-new component (30,31)
    new_pairs = spark.createDataFrame(
        [(3, 10), (21, 22), (30, 31)], "id_a long, id_b long"
    )
    labels = D.near_dup_cluster_members(old_pairs)
    merged = {
        r["doc_id"]: r["cluster_id"]
        for r in D.merge_cluster_labels(labels, new_pairs).collect()
    }
    full = {
        r["doc_id"]: r["cluster_id"]
        for r in D.near_dup_cluster_members(old_pairs.union(new_pairs)).collect()
    }
    assert merged == full
    assert merged[11] == 1      # bridged into the min-id component
    assert merged[22] == 20
    assert merged[31] == 30


def test_prefix_jaccard_matches_full_join_exactly(spark, sf_dir):
    from wurzel_spark.operators import dedup as D
    from wurzel_spark.tables import table as _table

    docs = _table(spark, sf_dir, "documents")
    full = {(r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    # hot_df=None pins the PREFIX machinery itself as lossless…
    pref = {(r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in D.ngram_jaccard_prefix_pairs(docs, threshold=0.5, hot_df=None).collect()}
    assert pref == full  # lossless pruning
    # …and the default adaptive entry point (whichever plan the df probe
    # picks) must give the identical answer.
    adaptive = {(r["id_a"], r["id_b"], round(r["jaccard"], 12))
                for r in D.ngram_jaccard_prefix_pairs(docs, threshold=0.5).collect()}
    assert adaptive == full


def test_prefix_jaccard_survives_boilerplate_shingle(spark):
    """A shingle shared by EVERY doc (the d^2 hazard) must neither blow
    up the candidate join nor change the exact answer."""
    from wurzel_spark.operators import dedup as D

    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} text{i} content{i} words{i}", "en", "s")
            for i in range(40)]
    rows += [(100, f"{boiler} twin doc here now", "en", "s"),
             (101, f"{boiler} twin doc here now", "en", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    # hot_df=10 < the 42-doc boilerplate df → the adaptive probe must
    # route THROUGH the prefix machinery here (the path under test)
    out = {(r["id_a"], r["id_b"]) for r in
           D.ngram_jaccard_prefix_pairs(docs, threshold=0.9, hot_df=10).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in
             D.ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    assert out == exact and (100, 101) in out


def test_incremental_novelty_matches_global_for_new_docs(spark, sf_dir):
    """A doc not yet in the corpus scores the same novelty against the
    index as the global operator would assign it if appended with a
    LARGER id (corpus counts as 'earlier' in both)."""
    from wurzel_spark.operators import dedup as D
    from wurzel_spark.tables import table as _table

    docs = _table(spark, sf_dir, "documents").limit(300)
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    idx = D.build_novelty_index(old)
    inc = {r["doc_id"]: (r["n_shingles"], r["n_novel"]) for r in
           D.incremental_ngram_novelty(new, idx).collect()}
    # global oracle: run ngram_novelty over old + new with new ids shifted
    # ABOVE every old id so "first seen" attributes shared shingles to old
    shifted = new.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    full = {r["doc_id"] - 10_000_000: (r["n_shingles"], r["n_novel"]) for r in
            D.ngram_novelty(old.unionByName(shifted)).collect()
            if r["doc_id"] >= 10_000_000}
    # caveat: two NEW docs sharing a shingle absent from old — the global
    # run credits the lower id, the incremental scores both novel; exclude
    # docs where the two disagree for that reason by comparing n_shingles
    # and requiring incremental >= global novelty
    assert set(inc) == set(full)
    for k in inc:
        assert inc[k][0] == full[k][0]  # same shingle counts
        assert inc[k][1] >= full[k][1]  # within-batch sharing only ADDS novelty


def test_incremental_novelty_exact_when_batch_disjoint(spark):
    """With no shingle shared BETWEEN new docs, incremental == global
    exactly (the only divergence source is within-batch sharing)."""
    from wurzel_spark.operators import dedup as D

    old_rows = [(1, "alpha beta gamma delta epsilon"),
                (2, "zeta eta theta iota kappa")]
    new_rows = [(10, "alpha beta gamma completely fresh words here"),
                (11, "nothing seen before in any earlier doc at all")]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    idx = D.build_novelty_index(old)
    inc = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"]) for r in
           D.incremental_ngram_novelty(new, idx).collect()}
    full = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"]) for r in
            D.ngram_novelty(old.unionByName(new)).collect() if r["doc_id"] >= 10}
    assert inc == full
    assert inc[11][2] == 1.0  # entirely new content
    assert 0.0 < inc[10][2] < 1.0  # shares the 'alpha beta gamma' shingle


def test_decontamination_report_groups_by_benchmark(spark):
    from wurzel_spark.operators.dedup import decontamination_report

    bench_a = " ".join(f"a{i}" for i in range(13))
    bench_b = " ".join(f"b{i}" for i in range(13))
    evals = spark.createDataFrame(
        [(1000, "suiteA", bench_a), (2000, "suiteB", bench_b)],
        "doc_id long, source string, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "s", "lead " + bench_a + " tail"),          # hits suiteA
            (2, "s", bench_a + " and " + bench_b),          # hits both
            (3, "s", " ".join(f"c{i}" for i in range(30))), # clean
        ],
        "doc_id long, source string, text string",
    )
    out = {r["bench"]: r for r in decontamination_report(corpus, evals).collect()}
    assert set(out) == {"suiteA", "suiteB"}
    assert out["suiteA"]["n_docs_hit"] == 2  # docs 1 and 2
    assert out["suiteB"]["n_docs_hit"] == 1  # doc 2 only
    assert out["suiteA"]["n_span_hits"] >= 2
    assert out["suiteA"]["n_eval_spans"] == 1  # single 13-token eval doc


def test_drop_duplication_step_reference_cases(spark):
    """The reference's DropDuplicationStep case table
    (tests/steps/drop_duplication_test.py): default key = md content;
    DROP_BY_FIELDS '[\"url\"]' subset; '[\"*\"]' = all fields."""
    from wurzel_spark.operators.dedup import exact_dedup

    def docs(rows):
        return spark.createDataFrame(
            [(i, md, "dummy", url) for i, (md, url) in enumerate(rows)],
            "doc_id long, md string, keywords string, url string",
        )

    all_fields = ["md", "keywords", "url"]
    # 10 exact-equal documents -> 1 (default: content key)
    d = docs([("##Hello World", "https:example.com/hello")] * 10)
    assert exact_dedup(d, ["md"], "doc_id").count() == 1
    # 10 different md -> 10
    d = docs([(f"##Hello World {i}", "https:example.com/hello") for i in range(10)])
    assert exact_dedup(d, ["md"], "doc_id").count() == 10
    # DROP_BY_FIELDS ["url"]: different md, same url -> 1
    assert exact_dedup(d, ["url"], "doc_id").count() == 1
    # ["*"]: same md, different urls -> 10
    d = docs([("##Hello World", f"https:example.com/hello{i}") for i in range(10)])
    assert exact_dedup(d, all_fields, "doc_id").count() == 10
    # ["*"]: fully identical -> 1
    d = docs([("##Hello World", "https:example.com/hello")] * 10)
    assert exact_dedup(d, all_fields, "doc_id").count() == 1
