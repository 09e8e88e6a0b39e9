"""Plan-shape guards for the round-7 operators — the 100 TB-relevant
properties locked in as regressions: metadata-sized sweeps never rescan
the corpus per grid point, text stays out of exchanges, the gram shuffle
carries d²-bounded rows, the grid/boundary joins broadcast."""

from __future__ import annotations

import re

from wurzel_spark.plans import plan_text
from wurzel_spark.tables import table


def _no_text_in_exchanges(t, col="text"):
    """No HASH exchange may carry the raw column — a RoundRobin exchange
    is the deliberate `common.parallelize` small-input spread (a no-op at
    scale: big inputs arrive already multi-split) and is exempt."""
    for block in re.findall(r"\(\d+\) Exchange\n(.*?)(?:\n\n|\Z)", t, re.S):
        if "RoundRobinPartitioning" in block:
            continue
        assert not re.search(rf"[\[, ]{col}#\d+[,\]]", block), block


def test_quality_sweep_tail_never_touches_corpus(spark, sf_dir):
    """The 11-threshold sweep runs ENTIRELY on the checkpointed bucket
    table: the final plan contains NO parquet scan at all — per-grid-
    point corpus rescans are impossible by construction."""
    from wurzel_spark.operators.textstats import quality_threshold_sweep

    t = plan_text(quality_threshold_sweep(table(spark, sf_dir, "documents")))
    assert "Scan parquet" not in t, t
    _no_text_in_exchanges(t)
    assert "CartesianProduct" not in t, t


def test_vocab_growth_boundary_joins_broadcast(spark, sf_dir):
    """The two prefix-counting joins against the 8-row boundary grid are
    broadcasts (BNLJ over a broadcast build side, never a shuffle range
    join); the term table exchange carries 8-byte hashes, not text."""
    from wurzel_spark.operators.textstats import vocab_growth_curve

    t = plan_text(vocab_growth_curve(table(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in t, t
    assert "BroadcastNestedLoopJoin" in t, t  # doc_id <= boundary joins
    for line in t.splitlines():
        if "BroadcastNestedLoopJoin" in line and ("+-" in line or ":-" in line):
            assert "BuildRight" in line, line
    _no_text_in_exchanges(t)


def test_gram_matrix_shuffle_is_dimension_bounded(spark, sf_dir):
    """Exactly one exchange (the (i,j) partial-gram combine): the kernel
    reduces each partition to d(d+1)/2 rows before any shuffle."""
    from wurzel_spark.operators.linalg import embedding_gram_matrix

    t = plan_text(embedding_gram_matrix(table(spark, sf_dir, "embeddings")))
    # hash/range exchanges (the (i,j) combine + final order) must not
    # carry the embedding column — only the `common.parallelize` round-robin
    # spread may (no-op at scale)
    _no_text_in_exchanges(t, col="embedding")
    assert "ArrowEvalPython" not in t, t  # mapInPandas, not a scalar UDF


def test_eval_sample_single_stratum_shuffle(spark, sf_dir):
    """One hash exchange on the stratum key feeding the window — no
    global (single-partition) sort before the per-stratum rank."""
    from wurzel_spark.operators.textstats import eval_sample_manifest

    t = plan_text(eval_sample_manifest(table(spark, sf_dir, "documents")))
    assert "SinglePartition" not in t.split("TakeOrdered")[0].split("Sort [source")[0], t
    _no_text_in_exchanges(t)


def test_freq_of_freq_exchanges_carry_hashes_only(spark, sf_dir):
    from wurzel_spark.operators.textstats import term_freq_of_freq

    t = plan_text(term_freq_of_freq(table(spark, sf_dir, "documents")))
    _no_text_in_exchanges(t)
    assert "CartesianProduct" not in t, t


def test_anomalies_windows_after_hourly_reduce(spark, sf_dir):
    """The median/MAD windows read the HOURLY table: every window sort
    sits above the grouped count, so the event stream is shuffled once
    (the groupBy) and the order statistics run on clock-bounded rows."""
    from wurzel_spark.queries.events import event_hour_anomalies

    t = plan_text(event_hour_anomalies(spark, sf_dir))
    # windows must not consume raw event rows: no window partitioned on
    # event_type whose child scans events without the hourly aggregate
    first_agg = t.find("HashAggregate")
    first_win = t.find("Window")
    assert first_agg != -1 and first_win != -1
    _no_text_in_exchanges(t)
