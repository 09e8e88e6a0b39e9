"""Round-11 scale-hazard fixes (VERDICT r10 "What's wrong" #1/#2):

1. curation_funnel_v2 must never checkpoint the fact-grain corpus —
   every checkpointed RDD scan in its final plan carries only narrow
   numeric gate-set columns (no string column ⇒ no `text`).
2. DSIR's token-grain localCheckpoint is size-GATED with a two-scan
   fallback; both paths are bit-equal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wurzel_spark.operators import common
from wurzel_spark.operators.selection import curation_funnel_v2
from wurzel_spark.operators.textstats import dsir_importance_scores

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _iter_jnodes(jnode):
    stack = [jnode]
    while stack:
        n = stack.pop()
        yield n
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.initialPlan())
            continue
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        try:
            sq = n.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        except Exception:
            pass


def _rdd_scan_cols(df):
    """[(simpleString, [(name, dataType), ...])] for every checkpointed
    (ExistingRDD) scan in the executed plan."""
    out = []
    jplan = df._jdf.queryExecution().executedPlan()
    for n in _iter_jnodes(jplan):
        if "RDDScan" in n.getClass().getSimpleName():
            attrs = n.output()
            cols = []
            for i in range(attrs.size()):
                a = attrs.apply(i)
                cols.append((str(a.name()), str(a.dataType().simpleString())))
            out.append((n.simpleString(200), cols))
    return out


def _rdd_scan_schemas(df):
    return [(s, [t for _, t in cols]) for s, cols in _rdd_scan_cols(df)]


# ------------------------------ funnel: no fact-grain text checkpoint


def test_curation_funnel_checkpoints_carry_no_string_column(spark):
    """The funnel's checkpoint cuts are doc_id gate sets ONLY. A string
    column in any checkpointed scan means the corpus text was pinned to
    executor local disks — the r10 scale-killer this guards against."""
    funnel = curation_funnel_v2(_docs(spark))
    scans = _rdd_scan_schemas(funnel)
    assert scans, "expected the gate-set checkpoints to appear as RDD scans"
    offenders = [
        (s, types) for s, types in scans if any("string" in t for t in types)
    ]
    assert not offenders, (
        f"fact-grain checkpoint detected (string column pinned): {offenders}"
    )


def test_curation_funnel_result_unchanged(spark):
    """The de-checkpointed funnel still produces the r5-certified stage
    counts (monotone survivor funnel over the sf0.001 corpus)."""
    rows = {
        r["stage"]: r["n_docs"]
        for r in curation_funnel_v2(_docs(spark)).collect()
    }
    assert list(rows) == ["0_all", "1_novel", "2_gated", "3_deduped"]
    assert rows["0_all"] >= rows["1_novel"] >= rows["2_gated"] >= rows["3_deduped"]
    assert rows["0_all"] == _docs(spark).count()


# -------------------- repo-wide: document text is NEVER checkpointed

# Column names that mark an unbounded-document payload. Short
# categorical strings (source, lang, event_type) and vocab-grain terms
# (term, gram, w1/w2 — Heaps-sublinear) are fine to pin; a document
# body never is (the r10 curation_funnel violation class).
_TEXT_LIKE = {"text", "md", "markdown", "content", "body", "html", "clean_text"}


def test_no_registered_query_checkpoints_document_text(spark, registered_dfs):
    """Walk every registered query's physical plan: no checkpointed
    (RDD-scanned) frame may carry a text-like column. The round-10
    fact-grain funnel checkpoint would have failed this. (Shared plan
    build — conftest.registered_dfs; build failures are the round-10
    bounds test's job.)"""
    offenders = {}
    for name, df in registered_dfs.items():
        if isinstance(df, Exception):
            continue
        for s, types_names in _rdd_scan_cols(df):
            bad = [c for c, _ in types_names if c.lower() in _TEXT_LIKE]
            if bad:
                offenders.setdefault(name, []).append((s, bad))
    assert not offenders, f"document text pinned to executor disks: {offenders}"


# ------------------------------ DSIR: gated token-grain checkpoint


def test_dsir_plan_size_estimate_is_metadata_only(spark):
    est = common.plan_size_bytes(_docs(spark))
    assert est is not None and est > 0


def test_dsir_gate_small_input_checkpoints(spark):
    docs = _docs(spark)
    assert common.plan_size_bytes(docs) <= common.CHECKPOINT_MAX_INPUT_BYTES
    scans = _rdd_scan_schemas(dsir_importance_scores(docs))
    assert scans, "small input should take the checkpointed plan"


def test_rfm_customer_pin_gated_and_bit_equal(spark, gates_off):
    """rfm_segments' customer-grain pin (4 longs/row but a grain that
    scales with the data) rides the same size gate as DSIR: forcing the
    gate shut must drop the checkpoint and leave the result identical."""
    from wurzel_spark.queries.relational import rfm_segments

    pinned_df = rfm_segments(spark, SF_DIR)
    assert _rdd_scan_cols(pinned_df), "small input should pin the customer frame"
    pinned = pinned_df.collect()
    with gates_off():
        unpinned_df = rfm_segments(spark, SF_DIR)
        assert not _rdd_scan_cols(unpinned_df)
        assert pinned == unpinned_df.collect()


def test_dsir_gate_large_input_two_scan_and_bit_equal(spark, gates_off):
    """Forcing the gate shut (as a 100 TB input would) must remove the
    token-grain checkpoint AND leave the result bit-identical."""
    docs = _docs(spark)
    pinned = dsir_importance_scores(docs).orderBy("doc_id").collect()
    with gates_off():
        unpinned_df = dsir_importance_scores(docs)
        assert not _rdd_scan_schemas(unpinned_df), (
            "gate shut ⇒ no localCheckpoint (no RDD scan) in the plan"
        )
        unpinned = unpinned_df.orderBy("doc_id").collect()
    assert pinned == unpinned


# --------------------- rfm two-phase ranks == naive global ranks


def test_rfm_two_phase_equals_naive_global_ranks(spark, tmp_path):
    """The bucketed two-phase ranks must reproduce the naive
    global-window quintiles EXACTLY on adversarial inputs: heavy ties
    in freq/cents/last_us, skewed custkeys, single-customer edge,
    n_cust not divisible by 5."""
    import random

    from pyspark.sql import Window as W
    from wurzel_spark.queries.relational import _RFM_LABEL_CASE, rfm_segments

    rng = random.Random(11)
    fixtures = [
        # (n_orders, n_cust) — ties guaranteed by tiny value domains
        (400, 37),
        (50, 50),
        (200, 3),
        (1, 1),
    ]
    for n_orders, n_cust in fixtures:
        rows = [
            (
                i,
                rng.randrange(n_cust),
                "O",
                float(rng.choice([10.0, 10.0, 99.99, 500.5])),
                f"2024-0{rng.randrange(1, 5)}-0{rng.randrange(1, 9)} 00:00:00",
                "1-URGENT",
            )
            for i in range(n_orders)
        ]
        df = spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate string, o_orderpriority string",
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))
        d = str(tmp_path / f"orders_{n_orders}_{n_cust}")
        df.write.mode("overwrite").parquet(f"{d}/orders.parquet")

        got = [tuple(r) for r in rfm_segments(spark, d).collect()]

        # naive twin: the pre-r11 global-window formulation
        cust = df.groupBy("o_custkey").agg(
            F.max(
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            ).alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).alias(
                "cents"
            ),
        )
        scored = cust.select(
            "cents",
            F.row_number().over(W.orderBy("last_us", "o_custkey")).alias("rn_r"),
            F.row_number().over(W.orderBy("freq", "o_custkey")).alias("rn_f"),
            F.row_number().over(W.orderBy("cents", "o_custkey")).alias("rn_m"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("n_cust"),
        ).select(
            "cents",
            F.expr("1 + div(5 * (rn_r - 1), n_cust)").alias("r_score"),
            F.expr("1 + div(5 * (rn_f - 1), n_cust)").alias("f_score"),
            F.expr("1 + div(5 * (rn_m - 1), n_cust)").alias("m_score"),
        )
        want = [
            tuple(r)
            for r in scored.groupBy("r_score", "f_score", "m_score")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_customers"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .select(
                "r_score",
                "f_score",
                "m_score",
                F.expr(_RFM_LABEL_CASE).alias("segment"),
                "n_customers",
                "total_cents",
            )
            .orderBy("r_score", "f_score", "m_score")
            .collect()
        ]
        assert got == want, (n_orders, n_cust)
