"""Skew-mitigation utilities: salted aggregation and salted join."""

from pyspark.sql import functions as F

from wurzel_spark.operators.skew import salted_count, salted_join


def test_salted_count_matches_plain(spark):
    # 10k rows on one hot key + 100 spread over others
    hot = spark.range(10_000).select(F.lit("HOT").alias("k"), F.col("id"))
    cold = spark.range(100).select(
        F.concat(F.lit("k"), (F.col("id") % 10).cast("string")).alias("k"), F.col("id")
    )
    df = hot.unionByName(cold)
    plain = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    salted = {r["k"]: r["n_rows"] for r in salted_count(df, ["k"], "id").collect()}
    assert salted == plain


def test_salted_join_matches_plain(spark):
    left = spark.range(5_000).select(
        F.when(F.col("id") % 2 == 0, "HOT").otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))).alias("k"),
        F.col("id").alias("left_id"),
    )
    right = spark.createDataFrame(
        [("HOT", 1.0), ("k1", 2.0), ("k3", 3.0)], ["k", "weight"]
    )
    plain = left.join(right, "k").agg(
        F.count("*").alias("n"), F.sum("weight").alias("w")
    ).collect()[0]
    salted = salted_join(left, right, "k").agg(
        F.count("*").alias("n"), F.sum("weight").alias("w")
    ).collect()[0]
    assert (salted["n"], salted["w"]) == (plain["n"], plain["w"])


def test_salted_join_spreads_hot_key(spark):
    left = spark.range(1_000).select(F.lit("HOT").alias("k"), F.col("id").alias("left_id"))
    right = spark.createDataFrame([("HOT", 1)], ["k", "v"])
    out = salted_join(left, right, "k", n_salts=8)
    assert out.count() == 1_000
    assert set(out.columns) == {"k", "left_id", "v"}


def test_duplicated_sentence_stats_skew_safe_shape(spark):
    """One sentence duplicated 1e5 times (1000 docs × 100 within-doc
    repeats) — the r4 skew-safe shape must (a) contain NO window over the
    sentence hash (windows get neither map-side combine nor AQE
    skew-split) and (b) collapse within-doc repeats before the cross-doc
    join, so the hot hash contributes ≤ n_docs rows, not n_occurrences.
    """
    from pyspark.sql import functions as F

    from wurzel_spark.operators.dedup import duplicated_sentence_stats

    boiler = "this sentence is shared boilerplate across every document. "
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.repeat(F.lit(boiler), 100),
            F.concat(F.lit("unique closing sentence number "), F.col("id"), F.lit(" only here.")),
        ).alias("text"),
    )
    out = duplicated_sentence_stats(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan

    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 1000
    r0 = rows[0]
    # 100 boilerplate repeats (dup) + 1 unique closer (not dup)
    assert r0["n_sentences"] == 101
    assert r0["n_dup_sentences"] == 100
    assert abs(r0["dup_sentence_frac"] - 100 / 101) < 1e-12


def test_duplicated_span_stats_skew_safe_shape(spark):
    from pyspark.sql import functions as F

    from wurzel_spark.operators.dedup import duplicated_span_stats

    # 3 docs share an identical 20+-token paragraph; one doc is unique
    shared = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, shared), (2, shared), (3, shared + " tail"), (4, "totally different words " * 10)],
        ["doc_id", "text"],
    )
    out = duplicated_span_stats(docs, n=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["dup_span_frac"] == 1.0
    assert rows[2]["dup_span_frac"] == 1.0
    assert rows[4]["n_dup_spans"] == 0


def test_percentile_gate_single_giant_source(spark, gates_off):
    """The two-phase rank's reason to exist: ONE source holding the whole
    corpus. The bucket-bounded windows must agree exactly with the plain
    per-source window (which would serialize into one task at scale)."""
    from wurzel_spark.operators import selection as S

    rows = [
        (i, "mega", " ".join((["the", "a", "of"] * (i % 7 + 1) + ["filler"] * 10)[:15]))
        for i in range(2000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    two = {(r["doc_id"], r["src_pctile"]) for r in
           S.quality_percentile_gate(docs, keep_frac=0.4).collect()}
    with gates_off():
        plain = {(r["doc_id"], r["src_pctile"]) for r in
                 S.quality_percentile_gate(docs, keep_frac=0.4).collect()}
    assert two == plain and len(two) > 700  # ~40% of 2000
