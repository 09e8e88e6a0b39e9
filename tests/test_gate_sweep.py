"""Every size-gated shortcut against its fall-through, repo-wide.

Each gate in the package decides through ``operators.common.fits``;
forcing it to ``False`` (the ``gates_off`` fixture) runs the distributed,
unpinned or plain-window twin of every shortcut at once. The shared
registered-query build records which queries reached a gate; each of
them must return the same rows with gates on and forced off.
"""

import pytest

import __spark_entry__ as entry

# Asserted exact (the GLOBAL_WINDOW_WHITELIST convention): a new gated
# query joins on purpose, and a gate site that stops deciding through
# common.fits drops its query from the discovered set.
GATED_QUERIES = frozenset(
    {
        "cluster_best_keep",
        "cluster_best_keep_capped",
        "combined_near_dup_pairs",
        "curation_funnel_v2",
        "dedup_clusters",
        "dup_graph_kcore",
        "importance_ess_stats",
        "importance_sample",
        "incremental_cluster_members",
        "kmeans_train_stats",
        "leakage_safe_split",
        "lsh_recall_audit",
        "minhash_lsh_pairs",
        "quality_percentile_gate",
        "rfm_segments",
        "simhash_near_pairs",
        "supplier_pagerank",
    }
)


def _rows(df):
    # repr is exact for floats and orders rows holding None or arrays
    return sorted(repr(r) for r in df.collect())


def test_gated_queries_are_pinned(gated_queries):
    assert gated_queries == GATED_QUERIES, sorted(gated_queries ^ GATED_QUERIES)


@pytest.mark.parametrize("name", sorted(GATED_QUERIES))
def test_gated_query_rows_equal_with_gates_off(
    name, spark, sf_dir, registered_dfs, gates_off
):
    on = registered_dfs[name]
    assert not isinstance(on, Exception), on
    with gates_off():
        off = _rows(entry.queries()[name](spark, sf_dir))
    assert _rows(on) == off
