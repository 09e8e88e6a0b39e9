"""Plan-quality regression tests: pushdown, pruning, join strategy.

These lock in the 100 TB-relevant plan properties — a regression here is a
silent scale problem even when results stay correct.
"""

import pytest

from wurzel_spark.plans import (
    assert_no_sort_merge_join,
    assert_pushed_filter,
    assert_read_schema_only,
    broadcast_join_count,
    plan_report,
)
from wurzel_spark.queries import relational

LINEITEM_COLS = {
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
}


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")
    # scan must not read join keys / part keys for a pure aggregate
    assert_read_schema_only(
        df,
        LINEITEM_COLS,
        {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"},
    )


def test_q6_all_filters_pushed(spark, sf_dir):
    df = relational.q6_forecast_revenue(spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert_pushed_filter(df, col)


def test_join_queries_broadcast_dimensions(spark, sf_dir):
    for q in (
        relational.q3_shipping_priority,
        relational.q5_local_supplier_volume,
        relational.q10_returned_items,
    ):
        df = q(spark, sf_dir)
        assert broadcast_join_count(df) >= 1
        assert_no_sort_merge_join(df)


def test_no_python_in_relational_hot_path(spark, sf_dir):
    """Relational queries must stay JVM-side end to end."""
    for q in (
        relational.q1_pricing_summary,
        relational.q3_shipping_priority,
        relational.q6_forecast_revenue,
        relational.string_funcs_parts,
        relational.date_funcs_orders,
    ):
        assert plan_report(q(spark, sf_dir))["python_evals"] == 0


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """Date-partitioned table: an equality filter on the partition column
    must show up in PartitionFilters (directory pruning), not as a data
    filter over a full scan."""
    from pyspark.sql import functions as F

    from wurzel_spark.plans.inspect import partition_filters
    from wurzel_spark.tables import table

    path = str(tmp_path / "events_by_day")
    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").mode("overwrite").parquet(path)

    some_day = spark.read.parquet(path).select("day").limit(1).collect()[0]["day"]
    pruned = spark.read.parquet(path).filter(F.col("day") == F.lit(some_day))
    pf = " ".join(partition_filters(pruned))
    assert "day" in pf, f"no partition filter pushed; got {pf!r}"
    assert pruned.count() > 0


def test_q8_q9_dimension_broadcasts_and_pushdown(spark, sf_dir):
    """The 6-table Q8 join tree must broadcast every dimension (no
    sort-merge cascade) and push the p_type / r_name / o_orderdate filters
    into their scans."""
    df8 = relational.q8_market_share(spark, sf_dir)
    assert broadcast_join_count(df8) >= 5
    assert_no_sort_merge_join(df8)
    for col in ("p_type", "r_name", "o_orderdate"):
        assert_pushed_filter(df8, col)
    df9 = relational.q9_product_profit(spark, sf_dir)
    assert_pushed_filter(df9, "p_name")
    assert_no_sort_merge_join(df9)


def test_q17_decorrelated_single_pass_pruning(spark, sf_dir):
    """Q17's decorrelated subquery must still prune lineitem to the three
    columns it needs and push the p_type filter to the part scan."""
    df = relational.q17_small_quantity_revenue(spark, sf_dir)
    assert_pushed_filter(df, "p_type")
    assert_read_schema_only(
        df, LINEITEM_COLS, {"l_partkey", "l_quantity", "l_extendedprice"}
    )


def test_q22_anti_join_date_pushdown(spark, sf_dir):
    """The anti-join side of Q22 must scan only date-filtered orders."""
    df = relational.q22_dormant_customers(spark, sf_dir)
    assert_pushed_filter(df, "o_orderdate")
    assert_pushed_filter(df, "c_acctbal")


def test_q11_q16_q20_broadcast_and_pushdown(spark, sf_dir):
    """Q11's decorrelated total joins as a 1-row broadcast; Q16 broadcasts
    part and the exclusion anti-join; Q20's dominance filter must not
    re-shuffle after the (partkey, suppkey) aggregate. All dimension filters
    reach the scans."""
    df11 = relational.q11_important_part_values(spark, sf_dir)
    assert broadcast_join_count(df11) >= 2
    assert_no_sort_merge_join(df11)
    assert_read_schema_only(
        df11, LINEITEM_COLS, {"l_partkey", "l_suppkey", "l_extendedprice", "l_discount"}
    )

    df16 = relational.q16_supplier_part_types(spark, sf_dir)
    assert broadcast_join_count(df16) >= 2
    assert_no_sort_merge_join(df16)
    for col in ("p_type", "p_size"):
        assert_pushed_filter(df16, col)
    assert_read_schema_only(df16, LINEITEM_COLS, {"l_partkey", "l_suppkey"})

    df20 = relational.q20_excess_shippers(spark, sf_dir)
    assert_pushed_filter(df20, "l_shipdate")
    assert_pushed_filter(df20, "p_name")
    assert_read_schema_only(
        df20, LINEITEM_COLS, {"l_partkey", "l_suppkey", "l_quantity", "l_shipdate"}
    )


def test_grouping_sets_single_expand(spark, sf_dir):
    """GROUPING SETS must compile to ONE Expand over one scan — not one
    scan per set (that's the whole point at 100 TB)."""
    from wurzel_spark.plans.inspect import plan_text

    df = relational.grouping_sets_orders(spark, sf_dir)
    txt = plan_text(df)
    assert txt.count("Expand") >= 1
    # formatted mode lists each node twice (tree + details) — one scan = 2
    assert txt.lower().count("scan parquet") <= 2, "orders scanned more than once"


def test_pii_scan_stays_jvm_and_prunes(spark, sf_dir):
    """PII counters are pure regexp_count algebra: zero Python evals, scan
    reads only (doc_id, text)."""
    from wurzel_spark.operators import textstats

    df = textstats.q_pii_scan(spark, sf_dir)
    rep = plan_report(df)
    assert rep["python_evals"] == 0
    assert_read_schema_only(
        df, {"doc_id", "text", "lang", "source", "n_chars"}, {"doc_id", "text"}
    )


def test_bigram_lm_no_python_and_pruned_scan(spark, sf_dir):
    from wurzel_spark.operators import textstats

    df = textstats.q_bigram_lm_score(spark, sf_dir)
    rep = plan_report(df)
    assert rep["python_evals"] == 0
    assert_read_schema_only(
        df, {"doc_id", "text", "lang", "source", "n_chars"}, {"doc_id", "text"}
    )


def test_minhash_banding_has_no_string_band_hashing(spark, sf_dir, gates_off):
    """Band hashes come from the Arrow kernel: the pair-join plan must not
    rebuild them via array_join/cast-to-string over the signature. Gates
    off: below the driver-input gate the pairs come from the driver."""
    from wurzel_spark.operators import dedup
    from wurzel_spark.plans.inspect import plan_text
    from wurzel_spark.tables import table

    with gates_off():
        df = dedup.minhash_dedup_pairs(table(spark, sf_dir, "documents"))
    s = plan_text(df)
    assert "array_join" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_range_search_broadcasts_queries(spark, sf_dir):
    """Radius search must broadcast the (tiny) query side — the corpus scan
    must not shuffle."""
    from wurzel_spark.operators import similarity
    from wurzel_spark.plans.inspect import plan_text
    from wurzel_spark.tables import table
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    df = similarity.range_search(emb, emb.filter(F.col("vec_id") < 3), 0.3)
    s = plan_text(df)
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s
    assert s.count("SortMergeJoin") == 0


def test_gopher_flags_single_scan_no_python(spark, sf_dir):
    from wurzel_spark.operators import textstats

    df = textstats.q_gopher_quality(spark, sf_dir)
    rep = plan_report(df)
    assert rep["python_evals"] == 0
    assert_read_schema_only(
        df, {"doc_id", "text", "lang", "source", "n_chars"}, {"doc_id", "text"}
    )


def test_cohort_retention_prunes_to_two_columns(spark, sf_dir):
    from wurzel_spark.queries import events

    df = events.cohort_retention(spark, sf_dir)
    rep = plan_report(df)
    assert rep["python_evals"] == 0
    assert_read_schema_only(
        df,
        {"event_id", "ts", "user_id", "event_type", "value", "props"},
        {"user_id", "ts"},
    )


def test_duplicated_spans_skew_safe_no_window(spark, sf_dir):
    """r4 skew-safe shape: NO window over the span hash (windows get
    neither map-side combine nor AQE skew-split); the unique-span counts
    and the per-doc span counts meet in one per-doc aggregate over their
    union — no join back at all — and all kernels stay JVM-side."""
    from wurzel_spark.operators import dedup
    from wurzel_spark.plans.inspect import plan_text
    from wurzel_spark.tables import table

    df = dedup.duplicated_span_stats(table(spark, sf_dir, "documents"))
    s = plan_text(df)
    assert "Window" not in s
    assert "Union" in s and "Join" not in s
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s


def test_curation_funnel_prunes_and_stays_jvm(spark, sf_dir):
    from wurzel_spark.operators import textstats

    df = textstats.q_curation_pipeline(spark, sf_dir)
    rep = plan_report(df)
    assert rep["python_evals"] == 0
    assert_read_schema_only(
        df,
        {"doc_id", "text", "lang", "source", "n_chars"},
        {"doc_id", "source", "text"},
    )


def test_sentence_dedup_skew_safe_no_window(spark, sf_dir):
    from wurzel_spark.operators import dedup
    from wurzel_spark.plans.inspect import plan_text
    from wurzel_spark.tables import table

    df = dedup.duplicated_sentence_stats(table(spark, sf_dir, "documents"))
    s = plan_text(df)
    assert "Window" not in s
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s


def test_text_embedding_join_broadcasts_or_hashes(spark, sf_dir):
    from wurzel_spark.operators import similarity

    df = similarity.q_text_embedding_join(spark, sf_dir)
    assert_no_sort_merge_join(df)
