"""Round-12 guards.

1. rfm_segments skew refinement (ADVICE r11 medium): value-range
   bucketing alone concentrates atoms (modal freq values, degenerate
   hi==lo domains) into one data-scaling window partition. The
   refinement must (a) leave results bit-identical to the naive
   global-window formulation, and (b) actually bound the rows entering
   every window partition — asserted at RUNTIME with the cap patched
   small so the refinement path executes.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wurzel_spark.queries import relational
from wurzel_spark.queries.relational import (
    _RFM_LABEL_CASE,
    _rfm_bucket_histogram,
    rfm_segments,
)
from wurzel_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-round12")


def _orders(spark, tmp_path, rows, tag):
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))
    d = str(tmp_path / tag)
    df.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    return df, d


def _naive_rfm(df):
    cust = df.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "last_us"
        ),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).alias("cents"),
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
    return [
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


def _degenerate_rows(n_cust):
    # hi == lo on ALL THREE dims: every customer has one order, the same
    # totalprice, the same date — the adversarial case where value-range
    # bucketing puts the entire customer population in bucket 0.
    return [
        (i, i, "O", 123.45, "2024-03-01 00:00:00", "1-URGENT")
        for i in range(n_cust)
    ]


def _modal_freq_rows(rng, n_cust):
    # 80% of customers share freq == 1 (the modal-atom case the r11
    # advice flagged); sparse custkeys exercise non-dense key ranges.
    rows, okey = [], 0
    for c in range(n_cust):
        ck = c * 7 + (c % 3)
        n_orders = 1 if rng.random() < 0.8 else rng.randrange(2, 6)
        for _ in range(n_orders):
            rows.append(
                (
                    okey,
                    ck,
                    "O",
                    float(rng.choice([10.0, 99.99, 500.5])),
                    f"2024-0{rng.randrange(1, 5)}-0{rng.randrange(1, 9)} 00:00:00",
                    "1-URGENT",
                )
            )
            okey += 1
    return rows


@pytest.mark.parametrize("case", ["degenerate", "modal_freq"])
def test_rfm_refinement_bit_equal_and_bounded(spark, tmp_path, monkeypatch, case):
    rng = random.Random(12)
    rows = (
        _degenerate_rows(300) if case == "degenerate" else _modal_freq_rows(rng, 250)
    )
    df, d = _orders(spark, tmp_path, rows, case)
    want = _naive_rfm(df)

    # Cap small enough that the refinement path actually executes.
    monkeypatch.setattr(relational, "_RFM_BUCKET_CAP_ROWS", 16)
    got = [tuple(r) for r in rfm_segments(spark, d).collect()]
    assert got == want, case


def test_rfm_refinement_bounds_window_partitions(spark, tmp_path, monkeypatch):
    """Runtime bound: after refinement, no bucket (window partition)
    holds more rows than the cap — including the all-atoms degenerate
    input that defeats pure value-range bucketing."""
    cap = 16
    monkeypatch.setattr(relational, "_RFM_BUCKET_CAP_ROWS", cap)
    df, d = _orders(spark, tmp_path, _degenerate_rows(300), "bounded")

    # Recreate the refined bucket frame the way rfm_segments builds it,
    # then measure actual per-bucket row counts.
    o = spark.read.parquet(f"{d}/orders.parquet")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "last_us"
        ),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).alias("cents"),
    )
    dims = {"r": "last_us", "f": "freq", "m": "cents"}
    panel = cust.agg(
        *[
            agg(c).alias(f"{side}_{dm}")
            for dm, c in dims.items()
            for side, agg in (("lo", F.min), ("hi", F.max))
        ]
    )
    b = cust.crossJoin(F.broadcast(panel)).select(
        "o_custkey",
        "cents",
        *[F.col(c).alias(f"v_{dm}") for dm, c in dims.items()],
        *[
            F.expr(f"div(({c} - lo_{dm}) * 1024, hi_{dm} - lo_{dm} + 1)").alias(
                f"b_{dm}"
            )
            for dm, c in dims.items()
        ],
    )
    per_dim, _ = _rfm_bucket_histogram(b, dims)
    for _ in range(relational._RFM_MAX_REFINE_ROUNDS):
        refines = {
            dm: relational._rfm_refine_exprs(dm, per_dim[dm])
            for dm in dims
            if any(s["c"] > cap for s in per_dim[dm].values())
        }
        if not refines:
            break
        b = b.select(
            "o_custkey",
            "cents",
            *[F.col(f"v_{dm}") for dm in dims],
            *[
                F.expr(refines[dm]).alias(f"b_{dm}")
                if dm in refines
                else F.col(f"b_{dm}")
                for dm in dims
            ],
        )
        per_dim, _ = _rfm_bucket_histogram(b, dims)
    worst = {dm: max(s["c"] for s in per_dim[dm].values()) for dm in dims}
    assert all(v <= cap for v in worst.values()), worst


def test_rfm_sf001_unchanged_by_refinement_plumbing(spark):
    """On real data at the default cap the refinement never triggers
    (sf0.01 has ~1k customers ≪ 65,536); result must match the naive
    twin exactly — the zero-skew fast path is the round-11 plan."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert [tuple(r) for r in rfm_segments(spark, SF_DIR).collect()] == _naive_rfm(o)
