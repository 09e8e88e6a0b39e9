"""Round-3 curation operators: PII scan, bigram LM familiarity,
containment pairs, ANN range search, multimodal manifest."""

import math

from pyspark.sql import functions as F

from wurzel_spark.operators import multimodal, similarity, textstats
from wurzel_spark.operators.dedup import containment_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_pii_scan_counts(spark):
    rows = [
        (1, "s", "contact a@b.com or c.d@example.org, call +49 171 1234567"),
        (2, "s", "server at 10.0.0.1 and http://example.com/x plus https://y.z/a?b=1"),
        (3, "s", "no pii here just words"),
        (4, "s", "numbers 42 and 7 but no identifiers"),
    ]
    out = {r["doc_id"]: r for r in textstats.pii_scan(_docs(spark, rows)).collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["n_phones"] == 1
    assert out[1]["pii_flag"] is True
    assert out[2]["n_ipv4"] == 1
    assert out[2]["n_urls"] == 2
    assert out[2]["pii_flag"] is True  # ipv4 counts as identifier
    assert out[3]["pii_flag"] is False
    assert out[4]["n_numbers"] == 2
    assert out[4]["pii_flag"] is False


def test_bigram_lm_scores_corpus_typical_text_higher(spark):
    # "the cat sat" bigrams dominate the corpus; doc 4 is gibberish with
    # bigrams seen nowhere else -> lowest familiarity.
    rows = [
        (1, "s", "the cat sat on the mat"),
        (2, "s", "the cat sat on the rug"),
        (3, "s", "the cat sat on the floor"),
        (4, "s", "zyx qwv jkl pqr"),
    ]
    out = {
        r["doc_id"]: r for r in textstats.bigram_lm_score(_docs(spark, rows)).collect()
    }
    assert out[4]["familiarity"] < out[1]["familiarity"]
    assert out[1]["n_bigrams"] == 5
    # hand-check doc 4: 3 bigrams each with corpus count 1; prefix counts 1;
    # V = distinct PREFIX words across the corpus (doc-final words like
    # mat/rug/floor/pqr are never bigram prefixes)
    v = len({"the", "cat", "sat", "on", "zyx", "qwv", "jkl"})
    expect = (3 + 3) / (3 + 3 * v)
    assert math.isclose(out[4]["familiarity"], expect, rel_tol=1e-12)


def test_containment_detects_subset_doc(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "s", base),
        (2, "s", base + " extra words appended here making it much longer " * 3),
        (3, "s", "totally different content with no shared shingles at all ok"),
    ]
    out = containment_pairs(_docs(spark, rows), threshold=0.6).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    # every shingle of doc 1 appears in doc 2
    assert r["containment_a_in_b"] == 1.0
    assert r["containment_b_in_a"] < 1.0
    assert r["jaccard"] < 0.6  # symmetric measure would have missed it
    assert not any(3 in p for p in pairs)


def test_range_search_threshold_and_exclusion(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.range_search(emb, emb.filter(F.col("vec_id") == 0), threshold=0.9)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    assert got == {(0, 1)}  # vec 2 orthogonal, self excluded


def test_multimodal_manifest_and_decode(spark, sf_dir):
    man = multimodal.q_multimodal_manifest(spark, sf_dir)
    rows = man.collect()
    assert len(rows) == 500
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    assert all(len(r["content_sha256"]) == 64 for r in rows[:10])
    dec = multimodal.q_multimodal_decode_stats(spark, sf_dir)
    drows = dec.collect()
    # only image-kind assets decode; deterministic fake codec
    assert len(drows) == sum(1 for r in rows if r["kind"] == "image")
    assert all(0.0 <= r["mean_r"] <= 255.0 for r in drows[:10])


def test_duplicated_spans_finds_shared_boilerplate(spark):
    from wurzel_spark.operators.dedup import duplicated_span_stats

    boiler = " ".join(f"b{i}" for i in range(20))  # a 20-token shared span
    rows = [
        (1, "s", boiler + " unique one tail here"),
        (2, "s", "different head words then " + boiler),
        (3, "s", " ".join(f"u{i}" for i in range(30))),
        (4, "s", "short doc"),  # < n tokens -> single whole-doc span
        (5, "s", "short doc"),  # exact dup of 4 -> cross-doc duplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in duplicated_span_stats(df, n=20).collect()}
    assert out[1]["n_dup_spans"] >= 1  # the boilerplate span matched doc 2
    assert out[2]["n_dup_spans"] >= 1
    assert out[3]["n_dup_spans"] == 0
    assert out[4]["n_spans"] == 1 and out[4]["dup_span_frac"] == 1.0
    assert out[5]["dup_span_frac"] == 1.0


def test_decontamination_overlap_direction(spark):
    from wurzel_spark.operators.dedup import decontamination_overlap

    bench = " ".join(f"e{i}" for i in range(13))  # a 13-token eval span
    corpus_rows = [
        (1, "s", "lead in words " + bench + " trailing things"),
        (2, "s", " ".join(f"c{i}" for i in range(30))),
    ]
    eval_rows = [(100, "eval", bench)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, source string, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in decontamination_overlap(corpus, ev, n=13).collect()}
    assert out[1]["n_contaminated"] == 1  # exactly the planted span
    assert out[2]["n_contaminated"] == 0
    assert 0 < out[1]["contamination_frac"] < 1


def test_kmeans_cell_stats_partitions_all_vectors(spark, sf_dir):
    from wurzel_spark.operators import similarity
    from wurzel_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    out = similarity.q_kmeans_cell_stats(spark, sf_dir).collect()
    assert sum(r["n_vectors"] for r in out) == emb.count()  # total partition
    assert all(r["max_sim"] >= r["min_sim"] for r in out)
    # every seed vector lands in its own cell with sim 1.0
    cells = {r["cell"]: r for r in out}
    assert all(abs(cells[i]["max_sim"] - 1.0) < 1e-12 for i in cells)


def test_duplicated_spans_matches_pure_python_on_random_corpus(spark):
    """Seeded random corpus vs a pure-Python twin — exact row equality."""
    import random

    from wurzel_spark.operators.dedup import duplicated_span_stats

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    n = 5
    rows = [
        (i, "s", " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(50)
    ]
    # pure-python expected
    span_docs = {}
    doc_spans = {}
    for i, _, text in rows:
        ws = text.split()
        grams = (
            [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
            if len(ws) >= n
            else [" ".join(ws)]
        )
        doc_spans[i] = grams
        for g in grams:
            span_docs.setdefault(g, set()).add(i)
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in duplicated_span_stats(df, n=n).collect()}
    for i, _, _ in rows:
        grams = doc_spans[i]
        dup = sum(1 for g in grams if len(span_docs[g]) >= 2)
        assert got[i]["n_spans"] == len(grams), i
        assert got[i]["n_dup_spans"] == dup, i


def test_bigram_lm_matches_pure_python_on_random_corpus(spark):
    import random

    from wurzel_spark.operators import textstats

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    rows = [
        (i, "s", " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 25))))
        for i in range(40)
    ]
    cbg, cu = {}, {}
    doc_bg = {}
    for i, _, text in rows:
        ws = text.split()
        bgs = list(zip(ws, ws[1:]))
        doc_bg[i] = bgs
        for a, b in bgs:
            cbg[(a, b)] = cbg.get((a, b), 0) + 1
            cu[a] = cu.get(a, 0) + 1
    v = len(cu)
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in textstats.bigram_lm_score(df).collect()}
    for i, _, _ in rows:
        bgs = doc_bg[i]
        scbg = sum(cbg[p] for p in bgs)
        scu = sum(cu[p[0]] for p in bgs)
        assert got[i]["sum_cbg"] == scbg, i
        assert got[i]["sum_cu"] == scu, i
        expect = (scbg + len(bgs)) / (scu + len(bgs) * v)
        assert abs(got[i]["familiarity"] - expect) < 1e-15, i


def test_gopher_flags_on_crafted_docs(spark):
    from wurzel_spark.operators import textstats

    good = "the data and results show that we have agreement with theory " * 10
    rows = [
        (1, "s", good),                              # passes everything
        (2, "s", "tiny doc"),                        # fails word count
        (3, "s", "### " * 60 + good),                # symbol ratio blown
        (4, "s", "\n".join("- item" for _ in range(20))),  # all bullets
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in textstats.gopher_quality_flags(df).collect()}
    assert out[1]["gopher_keep"] is True
    assert out[2]["ok_word_count"] is False and out[2]["gopher_keep"] is False
    assert out[3]["ok_symbol_ratio"] is False
    assert out[4]["ok_bullet_lines"] is False


def test_cluster_paths_agree(spark, gates_off):
    """Driver union-find and distributed min-label propagation must produce
    identical components."""
    from wurzel_spark.operators import dedup as D

    rows = [
        (1, 2), (2, 3),          # chain -> component {1,2,3}
        (10, 11),                # pair
        (20, 21), (21, 22), (20, 22),  # triangle
    ]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    a = {(r["cluster_id"], r["size"]) for r in D.near_dup_clusters(pairs).collect()}
    with gates_off():
        b = {(r["cluster_id"], r["size"]) for r in D.near_dup_clusters(pairs).collect()}
    assert a == b == {(1, 3), (10, 2), (20, 3)}


def test_jaccard_max_df_drops_boilerplate_shingles(spark):
    from wurzel_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "standard legal disclaimer follows here always"
    rows = [(i, "s", f"unique{i}a unique{i}b unique{i}c " + boiler) for i in range(10)]
    # two genuinely similar docs sharing non-boilerplate content
    rows += [
        (100, "s", "alpha beta gamma delta epsilon zeta eta"),
        (101, "s", "alpha beta gamma delta epsilon zeta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # without the cap: the 10 boilerplate docs all pair up
    plain = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert sum(1 for a, b in plain if a < 10 and b < 10) > 10
    # with the cap: boilerplate shingles (df=10 > 5) vanish; only the real
    # near-dup pair survives
    capped = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, threshold=0.3, max_df=5).collect()}
    assert (100, 101) in capped
    assert not any(a < 10 and b < 10 for a, b in capped)


def test_incremental_near_dup_matches_full_recompute(spark):
    """New-vs-corpus pairs from the incremental index path must equal the
    cross-corpus subset of a full recompute over the union."""
    from wurzel_spark.operators.dedup import (
        build_near_dup_index,
        incremental_near_dup_pairs,
        minhash_dedup_pairs,
    )

    base = [
        (i, "s", f"doc {i} body " + " ".join(f"w{i}_{j}" for j in range(30)))
        for i in range(20)
    ]
    # two new docs: one near-dups corpus doc 3, one is fresh
    new = [
        (100, "s", base[3][2] + " tiny tail"),
        (101, "s", " ".join(f"fresh{j}" for j in range(30))),
    ]
    corpus = spark.createDataFrame(base, "doc_id long, source string, text string")
    newdf = spark.createDataFrame(new, "doc_id long, source string, text string")
    index = build_near_dup_index(corpus).localCheckpoint()

    inc = {
        (r["id_a"], r["id_b"])
        for r in incremental_near_dup_pairs(newdf, corpus, index).collect()
    }
    full = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in minhash_dedup_pairs(corpus.unionByName(newdf)).collect()
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)  # cross new/corpus only
    }
    assert inc == full
    assert (100, 3) in inc
    assert not any(a == 101 for a, _ in inc)


def _incremental_fixture(spark):
    from wurzel_spark.operators.dedup import build_near_dup_index

    base = [
        (i, "s", f"doc {i} body " + " ".join(f"w{i}_{j}" for j in range(30)))
        for i in range(20)
    ]
    corpus = _docs(spark, base)
    # 100 copies corpus doc 5 (shares every band), 101 is fresh
    new = _docs(spark, [(100, "s", base[5][2]), (101, "s", "fresh " * 30)])
    return corpus, new, build_near_dup_index(corpus).localCheckpoint()


def test_incremental_band_join_emits_a_multi_band_pair_once(spark):
    from wurzel_spark.operators.dedup import (
        build_near_dup_index,
        incremental_near_dup_pairs,
    )

    corpus, new, index = _incremental_fixture(spark)
    bhs = {r["id"]: r["bhs"] for r in index.unionByName(build_near_dup_index(new)).collect()}
    assert sum(x == y for x, y in zip(bhs[100], bhs[5])) >= 2
    got = [(r["id_a"], r["id_b"]) for r in incremental_near_dup_pairs(new, corpus, index).collect()]
    assert got == [(100, 5)]


def test_incremental_replayed_batch_never_pairs_a_doc_with_itself(spark):
    from wurzel_spark.operators.dedup import (
        build_near_dup_index,
        incremental_near_dup_pairs,
    )

    corpus, new, _ = _incremental_fixture(spark)
    # the batch is replayed: its own docs are already in the index
    both = corpus.unionByName(new)
    index = build_near_dup_index(both).localCheckpoint()
    got = [(r["id_a"], r["id_b"]) for r in incremental_near_dup_pairs(new, both, index).collect()]
    assert got == [(100, 5)]


def test_incremental_reuses_a_checkpointed_new_sigs(spark):
    """A new_sigs that is already a checkpoint is band-joined as it is:
    one pin job fewer than for the same signatures unpinned."""
    from wurzel_spark.operators.dedup import (
        build_near_dup_index,
        incremental_near_dup_pairs,
    )

    corpus, new, index = _incremental_fixture(spark)
    sc = spark.sparkContext

    def jobs(new_sigs, group):
        sc.setJobGroup(group, group)
        try:
            rows = incremental_near_dup_pairs(new, corpus, index, new_sigs=new_sigs).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert [(r["id_a"], r["id_b"]) for r in rows] == [(100, 5)]
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sigs = build_near_dup_index(new)
    unpinned = jobs(sigs, "incremental-unpinned")
    assert jobs(sigs.localCheckpoint(), "incremental-pinned") == unpinned - 1


def test_curation_ops_on_empty_corpus(spark):
    """Every curation operator must return an empty (or all-zero) result on
    an empty corpus without raising — guards the div-by-zero and empty-agg
    edges that only show up on day-one pipelines."""
    from wurzel_spark.operators import textstats
    from wurzel_spark.operators.dedup import (
        duplicated_span_stats,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    assert textstats.pii_scan(empty).count() == 0
    assert textstats.gopher_quality_flags(empty).count() == 0
    assert textstats.bigram_lm_score(empty).count() == 0
    assert textstats.repetition_stats(empty).count() == 0
    assert textstats.curation_pipeline_stats(empty).count() == 0
    assert duplicated_span_stats(empty).count() == 0
    pairs = ngram_jaccard_pairs(empty)
    assert pairs.count() == 0
    assert near_dup_clusters(pairs).count() == 0


def test_curation_ops_on_degenerate_docs(spark):
    """Whitespace-only and single-word docs flow through without errors."""
    from wurzel_spark.operators import textstats
    from wurzel_spark.operators.dedup import duplicated_span_stats

    rows = [(1, "s", "   "), (2, "s", "word"), (3, "s", "")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in textstats.gopher_quality_flags(df).collect()}
    assert got[1]["n_words"] == 0 and got[1]["gopher_keep"] is False
    spans = {r["doc_id"]: r for r in duplicated_span_stats(df).collect()}
    # blank docs have no words -> no span rows; the single word doc gets one
    assert set(spans) == {2} and spans[2]["n_spans"] == 1


def test_duplicated_sentences_catch_templated_docs(spark):
    from wurzel_spark.operators.dedup import duplicated_sentence_stats

    boiler = "All rights reserved contact support for details."
    rows = [
        (1, "s", f"Unique opening line one here. {boiler}"),
        (2, "s", f"Different unique line over here. {boiler}"),
        (3, "s", "Totally original sentence only here. Another original one follows."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in duplicated_sentence_stats(df).collect()}
    assert out[1]["n_dup_sentences"] == 1 and out[1]["n_sentences"] == 2
    assert out[2]["n_dup_sentences"] == 1
    assert out[3]["n_dup_sentences"] == 0
    # case/whitespace normalization: variant spacing still matches
    rows2 = rows + [(4, "s", "ALL   rights  reserved contact support for details.")]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string, text string")
    out2 = {r["doc_id"]: r for r in duplicated_sentence_stats(df2).collect()}
    assert out2[4]["n_dup_sentences"] == 1


def test_repetition_stats_degenerate_docs_match_oracle(spark):
    """Docs with <2 words (empty / whitespace / one word) must be absent
    from the output — exactly the row set the DuckDB oracle's
    unnest(ng2) → GROUP BY path emits (ADVICE r3 #1)."""
    import duckdb
    import pandas as pd

    from wurzel_spark.operators.textstats import REPETITION_STATS_SQL, repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": ["", "   ", "word", "two words", "a b a b a b", "x\n\ty  z"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = repetition_stats(df).orderBy("doc_id").toPandas()

    con = duckdb.connect()
    con.register("documents", pdf)
    exp = con.execute(REPETITION_STATS_SQL).df()

    assert list(got["doc_id"]) == list(exp["doc_id"]) == [4, 5, 6]
    assert list(got["top_2gram"]) == list(exp["top_2gram"])
    assert list(got["top_2gram_count"]) == [int(v) for v in exp["top_2gram_count"]]
    for a, b in zip(got["dup_5gram_frac"], exp["dup_5gram_frac"]):
        assert (pd.isna(a) and pd.isna(b)) or a == b


def test_label_propagation_strict_raises_on_nonconvergence(spark, gates_off):
    """A labeling that splits components across labels must never escape
    as ground truth (it would be persisted as streaming cluster state):
    strict mode raises; strict=False keeps the warn-and-return behavior."""
    import pytest as _pytest

    from wurzel_spark.operators import dedup as D

    rows = [(i, i + 1) for i in range(1, 8)]  # 8-node chain, diameter 7
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    with gates_off():  # force the distributed path
        with _pytest.raises(RuntimeError, match="did not converge"):
            D.near_dup_cluster_members(pairs, max_iters=1)
        with _pytest.warns(RuntimeWarning, match="did not converge"):
            out = D.near_dup_cluster_members(pairs, max_iters=1, strict=False)
        assert out.count() == 8  # all nodes labeled, labels possibly partial


def test_snapshot_diff_statuses(spark):
    from wurzel_spark.operators.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}  # 1 (unchanged) dropped


def test_ngram_novelty_bounds_and_first_owner(spark):
    from wurzel_spark.operators.dedup import ngram_novelty

    rows = [
        (1, "alpha beta gamma delta epsilon"),     # all first-seen
        (2, "alpha beta gamma delta epsilon"),     # exact dup of 1 → 0 novelty
        (3, "alpha beta gamma zeta eta theta"),    # partial overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0 and out[2]["n_novel"] == 0
    assert 0.0 < out[3]["novelty"] < 1.0
    assert all(0.0 <= r["novelty"] <= 1.0 for r in out.values())


def test_quality_percentile_gate_keeps_top_fraction_per_source(spark):
    from wurzel_spark.operators.selection import quality_percentile_gate

    rows = []
    for s, stopish in (("a", "the a and of to"), ("b", "zzz qqq xxx yyy www")):
        for i in range(10):
            # within each source, doc i has i stopword hits out of 10 words
            words = (stopish.split() * 2)[:i] + ["filler"] * (10 - i)
            rows.append((len(rows), s, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = quality_percentile_gate(docs, keep_frac=0.5)
    out = kept.collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # both sources keep rows despite source b having zero real stopwords
    # globally — the gate normalizes per source
    assert set(by_src) == {"a", "b"}
    for s, rs in by_src.items():
        # percent_rank over 10 strictly-ordered rows = k/9; k/9 <= 0.5 → 5 rows
        assert len(rs) == 5
        assert all(0.0 <= r["src_pctile"] <= 0.5 for r in rs)


def test_length_bucket_batches_waste_accounting(spark):
    from wurzel_spark.operators.packing import length_bucket_batches

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([5, 6, 7, 40, 41, 90])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["bucket"], r["batch_idx"]): r for r in
           length_bucket_batches(docs, bucket_width=32, batch_size=2).collect()}
    # bucket 0: lens 5,6,7 → batches [5,6] and [7]
    b0 = out[(0, 0)]
    assert (b0["n_docs"], b0["max_len"], b0["sum_len"], b0["padding_waste"]) == (2, 6, 11, 1)
    assert out[(0, 1)]["padding_waste"] == 0  # singleton pads nothing
    b1 = out[(1, 0)]
    assert (b1["n_docs"], b1["max_len"], b1["padding_waste"]) == (2, 41, 1)
    assert out[(2, 0)]["n_docs"] == 1


def test_percentile_gate_two_phase_equals_plain_window(spark, sf_dir, gates_off):
    """The skew-safe bucketed rank and the plain per-source window must
    produce identical percentiles (same total order, same formula)."""
    from wurzel_spark.operators import selection as S
    from wurzel_spark.tables import table as _table

    docs = _table(spark, sf_dir, "documents")
    two = {(r["doc_id"], r["src_pctile"]) for r in
           S.quality_percentile_gate(docs).collect()}
    with gates_off():  # force the plain-window path
        plain = {(r["doc_id"], r["src_pctile"]) for r in
                 S.quality_percentile_gate(docs).collect()}
    assert two == plain and len(two) > 0


def test_long_chain_converges_within_log_rounds(spark, gates_off):
    """Round 5: pointer-doubling shortcuts make a 120-node chain (diameter
    119) converge well inside 20 rounds on the DISTRIBUTED path — plain
    min-propagation would need 119 rounds and strict mode would raise."""
    from wurzel_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 120)], "id_a long, id_b long"
    )
    with gates_off():  # force the distributed path
        out = {r["doc_id"]: r["cluster_id"]
               for r in D.near_dup_cluster_members(pairs, max_iters=20).collect()}
    assert len(out) == 120
    assert set(out.values()) == {1}  # one component, labeled by its minimum


def test_compressibility_separates_repetitive_from_random(spark):
    from wurzel_spark.operators.textstats import compressibility_stats

    import random

    rng = random.Random(5)
    noise = "".join(chr(rng.randrange(33, 127)) for _ in range(2000))
    rows = [
        (1, "spam spam spam " * 200),                 # templated spam
        (2, noise),                                   # incompressible noise
        (3, "The quiet afternoon settled over the valley as readers "
            "turned pages and the river kept its slow argument with the "
            "stones. A kestrel hung above the orchard wall, wings "
            "trembling against a sky the color of unpolished tin, while "
            "somewhere beyond the hedgerows a tractor coughed twice and "
            "fell silent. Nobody in the village could remember who had "
            "first planted the walnut trees along the lane, though every "
            "autumn their shadows grew a little longer and their harvest "
            "a little smaller, as if the ground itself were slowly "
            "forgetting the favor."),                 # natural prose, unrepeated
        (4, ""),                                      # empty → nulls
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compressibility_stats(docs).collect()}
    assert out[1]["zlib_ratio"] < 0.1 < out[3]["zlib_ratio"] < out[2]["zlib_ratio"]
    assert out[2]["zlib_ratio"] > 0.8  # noise barely compresses
    assert out[2]["char_entropy"] > 6.0 > out[3]["char_entropy"] > out[1]["char_entropy"]
    assert out[4]["zlib_ratio"] is None and out[4]["n_bytes"] == 0
    # deterministic across runs
    again = {r["doc_id"]: r for r in compressibility_stats(docs).collect()}
    assert {k: (v["zlib_ratio"], v["char_entropy"]) for k, v in out.items()} == {
        k: (v["zlib_ratio"], v["char_entropy"]) for k, v in again.items()
    }


# ---------------------------------------------------------- r6 CDC family


def test_apply_changeset_merge_semantics(spark):
    from wurzel_spark.operators.snapshots import apply_changeset

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id long, text string"
    )
    changes = spark.createDataFrame(
        [(2, "upsert", "two v2"), (3, "delete", None), (9, "upsert", "nine")],
        "doc_id long, op string, text string",
    )
    out = {r["doc_id"]: r["text"] for r in apply_changeset(base, changes).collect()}
    assert out == {1: "one", 2: "two v2", 9: "nine"}  # update, delete, insert


def test_merge_into_parquet_rewrites_only_affected_partitions(spark, tmp_path):
    """The 100 TB shape: a small changeset rewrites only its hash
    buckets; untouched partitions' files are bit-identical afterwards."""
    import os

    from pyspark.sql import functions as F

    from wurzel_spark.operators.snapshots import (
        apply_changeset,
        merge_into_parquet,
        write_partitioned_table,
    )

    base = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    tdir = str(tmp_path / "tbl")
    write_partitioned_table(base, tdir, n_parts=8)
    before = {}
    for p in range(8):
        pd = f"{tdir}/part={p}"
        before[p] = {
            fn: os.path.getmtime(os.path.join(pd, fn))
            for fn in os.listdir(pd) if fn.endswith(".parquet")
        }
    changes = spark.createDataFrame(
        [(7, "upsert", "seven v2"), (13, "delete", None), (5000, "upsert", "new doc")],
        "doc_id long, op string, text string",
    )
    affected = merge_into_parquet(spark, tdir, changes, n_parts=8)
    assert 1 <= len(affected) <= 3  # at most one bucket per changed id
    for p in range(8):
        pd = f"{tdir}/part={p}"
        after = {
            fn: os.path.getmtime(os.path.join(pd, fn))
            for fn in os.listdir(pd) if fn.endswith(".parquet")
        }
        if p not in affected:
            assert after == before[p], f"untouched partition {p} was rewritten"
    # logical state == pure merge semantics
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(tdir).select("doc_id", "text").collect()
    }
    exp = {
        r["doc_id"]: r["text"]
        for r in apply_changeset(base, changes).collect()
    }
    assert got == exp
    assert got[7] == "seven v2" and 13 not in got and got[5000] == "new doc"


def test_cdc_snapshot_at_time_travel(spark):
    import datetime

    from wurzel_spark.operators.snapshots import cdc_snapshot_at

    t = lambda d: datetime.datetime(2026, 1, d)  # noqa: E731
    log = spark.createDataFrame(
        [
            (1, t(1), "upsert", "one"),
            (1, t(5), "upsert", "one v2"),
            (2, t(2), "upsert", "two"),
            (2, t(6), "delete", None),
            (3, t(9), "upsert", "three"),  # not yet born at day 7
        ],
        "doc_id long, ts timestamp, op string, text string",
    )
    at = {r["doc_id"]: r["text"] for r in cdc_snapshot_at(log, t(7)).collect()}
    assert at == {1: "one v2"}  # 2 deleted by day 6, 3 not yet inserted
    full = {r["doc_id"]: r["text"] for r in cdc_snapshot_at(log, t(30)).collect()}
    assert full == {1: "one v2", 3: "three"}


def test_merge_into_parquet_crash_recovery(spark, tmp_path):
    """Staged-rename crash windows: a COMPLETE tmp with the target dir
    already deleted is finished (rename in); an INCOMPLETE tmp (no
    _SUCCESS) is discarded and the intact old dir wins."""
    import os
    import shutil

    from wurzel_spark.operators.snapshots import (
        merge_into_parquet,
        write_partitioned_table,
    )

    base = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "doc_id long, text string"
    )
    tdir = str(tmp_path / "tbl")
    write_partitioned_table(base, tdir, n_parts=4)
    changes = spark.createDataFrame(
        [(7, "upsert", "seven v2")], "doc_id long, op string, text string"
    )
    # locate 7's bucket, then simulate "crashed after delete, before rename":
    # stage a complete tmp (copy of the dir with the merge NOT yet applied is
    # fine for the protocol test — completeness is _SUCCESS), remove target
    from pyspark.sql import functions as F

    part = base.sparkSession.createDataFrame([(7,)], "doc_id long").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(4)).alias("p")
    ).collect()[0]["p"]
    pdir = f"{tdir}/part={part}"
    tmp = f"{tdir}/part={part}__merge_tmp"
    shutil.copytree(pdir, tmp)
    # the initial partitionBy layout keeps _SUCCESS at the TABLE root, so
    # mark the staged tmp complete the way a per-bucket merge write would
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(pdir)
    affected = merge_into_parquet(spark, tdir, changes, n_parts=4)
    assert affected == [part]
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(tdir).select("doc_id", "text").collect()}
    assert got[7] == "seven v2" and len(got) == 40

    # incomplete tmp: no _SUCCESS -> discarded, old dir intact, merge runs
    changes2 = spark.createDataFrame(
        [(8, "upsert", "eight v2")], "doc_id long, op string, text string"
    )
    part8 = base.sparkSession.createDataFrame([(8,)], "doc_id long").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(4)).alias("p")
    ).collect()[0]["p"]
    tmp8 = f"{tdir}/part={part8}__merge_tmp"
    os.makedirs(tmp8)
    open(os.path.join(tmp8, "part-junk.parquet"), "w").write("partial")
    merge_into_parquet(spark, tdir, changes2, n_parts=4)
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(tdir).select("doc_id", "text").collect()}
    assert got[8] == "eight v2" and not os.path.exists(tmp8)
