"""Round-13 optimization guards: the driver-gated incremental-cluster
fold must be bit-equal to the fully distributed path (the union-find
1M-edge-class convention — every driver-side algorithm path needs an
equivalence-tested distributed twin)."""

import pytest


def _collect_rows(df):
    return [(r["doc_id"], r["cluster_id"]) for r in df.collect()]


def _negative_id_corpus(spark, root):
    """A tiny documents dir whose near-dup pairs carry negative ids. The
    "new doc" split is ``doc_id % 5 == 4``: Spark's and DuckDB's ``%``
    truncate (-6 % 5 = -1, old), a floored ``%`` gives 4 (new)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    other = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (-1, base),
        (-6, base + " nu"),
        (-11, base + " xi"),
        (4, other),
        (-4, other + " omicron"),
        (9, other + " pi"),
        (2, "solo words that match nothing else at all here"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(root / "documents.parquet"))
    return str(root)


def test_incremental_cluster_gated_fold_matches_fallthrough(
    spark, sf_dir, monkeypatch, tmp_path, gates_off
):
    """q_incremental_cluster_members' r13 driver-gated fold (one Arrow
    pull + two driver union-finds) must produce byte-identical rows to
    the fully distributed path (star-merge fall-through with distributed
    label propagation) on the same corpus — and split the pairs into old
    and new exactly as the distributed path does, negative ids included
    (star compression hides a wrong split in the final labels)."""
    from wurzel_spark.operators import dedup as D

    real_uf, real_members = D._uf_roots, D.near_dup_cluster_members
    for corpus in (sf_dir, _negative_id_corpus(spark, tmp_path)):
        uf_calls, member_calls = [], []

        def uf_spy(src, dst):
            uf_calls.append(sorted(zip(map(int, src), map(int, dst))))
            return real_uf(src, dst)

        def members_spy(pairs, *args, **kwargs):
            edges = pairs.select("id_a", "id_b").collect()
            member_calls.append(sorted(map(tuple, edges)))
            return real_members(pairs, *args, **kwargs)

        monkeypatch.setattr(D, "_uf_roots", uf_spy)
        gated = _collect_rows(D.q_incremental_cluster_members(spark, corpus))
        # force the fully distributed path: with every gate off the
        # 4·n_pairs probe falls through to the original
        # near_dup_cluster_members/merge_cluster_labels path, and the per-call
        # union-find gates inside it fall through to distributed label
        # propagation too
        monkeypatch.setattr(D, "near_dup_cluster_members", members_spy)
        with gates_off():
            fallthrough = _collect_rows(
                D.q_incremental_cluster_members(spark, corpus)
            )
        monkeypatch.setattr(D, "near_dup_cluster_members", real_members)
        assert gated == fallthrough
        assert len(gated) > 0
        # the driver's old-pair union-find sees the distributed old_pairs
        assert uf_calls[0] == member_calls[0]


def test_uf_roots_matches_union_find_members(spark):
    """The extracted _uf_roots helper labels identically to the
    _union_find_members frame path (mirrored vs unmirrored edge lists
    included — union is symmetric)."""
    from wurzel_spark.operators import dedup as D

    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (3, 10)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    via_frame = {
        r["doc_id"]: r["cluster_id"]
        for r in D._union_find_members(spark, edges).collect()
    }
    via_roots = D._uf_roots(
        [a for a, _ in pairs], [b for _, b in pairs]
    )
    assert via_frame == via_roots
