"""Round-13 optimization guards: the driver-gated incremental-cluster
fold must be bit-equal to the fully distributed path (the union-find
1M-edge-class convention — every driver-side algorithm path needs an
equivalence-tested distributed twin)."""

import pytest


def _collect_rows(df):
    return [(r["doc_id"], r["cluster_id"]) for r in df.collect()]


def test_incremental_cluster_gated_fold_matches_fallthrough(
    spark, sf_dir, monkeypatch
):
    """q_incremental_cluster_members' r13 driver-gated fold (one Arrow
    pull + two driver union-finds) must produce byte-identical rows to
    the fully distributed path (star-merge fall-through with distributed
    label propagation) on the same corpus."""
    from wurzel_spark.operators import dedup as D

    gated = _collect_rows(D.q_incremental_cluster_members(spark, sf_dir))
    # force the fully distributed path: no edge count fits a gate of -1,
    # so the 4·n_pairs probe falls through to the original
    # near_dup_cluster_members/merge_cluster_labels path, and the per-call
    # union-find gates inside it, which read the same global, fall through
    # to distributed label propagation too
    monkeypatch.setattr(D, "_DRIVER_UNION_FIND_MAX_EDGES", -1)
    fallthrough = _collect_rows(D.q_incremental_cluster_members(spark, sf_dir))
    assert gated == fallthrough
    assert len(gated) > 0


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
