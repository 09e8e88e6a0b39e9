"""Train/val/test split assignment + global corpus shuffle: determinism,
stability-under-growth, and the no-single-partition-window plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from wurzel_spark.operators.ordering import corpus_shuffle, train_split_assign
from wurzel_spark.plans import plan_text
from wurzel_spark.tables import table


def test_split_is_stable_under_corpus_growth(spark):
    """A doc's split must not change when the corpus grows — the property
    that prevents eval contamination across pipeline re-runs."""
    small = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s = {r.doc_id: r.split for r in train_split_assign(small).collect()}
    b = {r.doc_id: r.split for r in train_split_assign(big).collect()}
    assert all(b[d] == s[d] for d in s)


def test_split_permilles_roughly_honored(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    counts = {
        r.split: r.n
        for r in train_split_assign(df).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert 0.85 <= counts["train"] / total <= 0.95
    assert 0.02 <= counts["val"] / total <= 0.08
    assert 0.02 <= counts["test"] / total <= 0.08


def test_corpus_shuffle_matches_naive_global_rank(spark):
    """The two-phase bucketed rank must equal the naive single-window
    ROW_NUMBER over the same (hash, id) order."""
    from pyspark.sql import Window as W
    from wurzel_spark.operators.common import knuth_hash

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.shuffle_pos for r in corpus_shuffle(df).collect()}
    naive = {
        r.doc_id: r.pos
        for r in df.withColumn("__h", knuth_hash(F.col("doc_id")))
        .withColumn("pos", F.row_number().over(W.orderBy("__h", "doc_id")))
        .collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, 5001))


def test_corpus_shuffle_plan_has_no_global_window(spark, sf_dir):
    """The corpus-grain rank window must partition by the hash bucket —
    a row_number with an empty partition spec would serialize the corpus
    through one task. Since r12 the bucket OFFSETS ride the plan as a
    global running sum over the ≤_N_BUCKETS-row count table (replacing
    the offsets collect job), so exactly one SinglePartition exchange is
    expected — carrying bucket-count rows, never corpus rows (the
    GLOBAL_WINDOW_WHITELIST runtime bound asserts the row count)."""
    import re

    df = corpus_shuffle(table(spark, sf_dir, "documents")).select(
        "doc_id", "shuffle_pos"
    )
    t = plan_text(df)
    # the corpus rank window stays bucket-partitioned
    assert re.search(r"row_number\(\) windowspecdefinition\(__bkt", t), t
    # only the bounded offsets branch may run single-partition. Walk the
    # PHYSICAL plan for ShuffleExchangeExec nodes with SinglePartition
    # (ADVICE r12: formatted text can print a partitioning in both the
    # tree and Arguments lines, so substring counting is brittle in both
    # directions).
    jplan = df._jdf.queryExecution().executedPlan()
    single = []
    stack = [jplan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.initialPlan())
            continue
        if cls == "ShuffleExchangeExec" and "SinglePartition" in n.outputPartitioning().toString():
            single.append(n.simpleString(300))
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    assert len(single) == 1, single


def test_split_leakage_detects_cross_split_duplicate(spark):
    """A verbatim duplicate straddling the train/eval boundary must show
    up as a leaky doc; an eval doc with unique text must not."""
    from wurzel_spark.operators.ordering import split_leakage_stats, train_split_assign

    base = " ".join(f"tok{i}" for i in range(20))
    # find one train id and two eval ids under the default permilles
    assigned = {
        r.doc_id: r.split
        for r in train_split_assign(
            spark.range(0, 400).withColumnRenamed("id", "doc_id")
        ).collect()
    }
    train_id = next(d for d, s in assigned.items() if s == "train")
    eval_ids = [d for d, s in assigned.items() if s != "train"][:2]
    assert len(eval_ids) == 2
    df = spark.createDataFrame(
        [
            (train_id, base + " train tail"),
            (eval_ids[0], base + " eval tail"),  # shares 13-gram spans with train
            (eval_ids[1], " ".join(f"zz{i}qq{i}" for i in range(20))),
        ],
        ["doc_id", "text"],
    )
    rows = {r.split: r for r in split_leakage_stats(df, n=13).collect()}
    leaky = sum(r.n_leaky_docs for r in rows.values())
    assert leaky == 1
    assert all(r.leaked_spans <= r.total_spans for r in rows.values())


def test_shuffle_positions_look_shuffled(spark):
    """Adjacent doc_ids should land far apart — the point of the epoch
    shuffle (catching an accidental identity permutation)."""
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    pos = {r.doc_id: r.shuffle_pos for r in corpus_shuffle(df).collect()}
    adjacent_close = sum(1 for d in range(999) if abs(pos[d] - pos[d + 1]) <= 2)
    assert adjacent_close < 50


def test_curriculum_order_bands_are_contiguous(spark):
    from wurzel_spark.operators.ordering import curriculum_order

    rows = [(i, " ".join(["w"] * n), "en", "s") for i, n in enumerate([10, 60, 150, 300, 20, 250])]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = sorted(curriculum_order(docs).collect(), key=lambda r: r["curriculum_pos"])
    # positions are a 1..n permutation and bands never interleave
    assert [r["curriculum_pos"] for r in out] == list(range(1, 7))
    bands = [r["band"] for r in out]
    assert bands == sorted(bands)
    # easy (short) docs first: docs 0 (10w) and 4 (20w) occupy band 0
    assert {out[0]["doc_id"], out[1]["doc_id"]} == {0, 4}


def test_curriculum_order_is_deterministic(spark):
    from wurzel_spark.operators.ordering import curriculum_order

    rows = [(i, " ".join(["w"] * (i * 7 % 260)), "en", "s") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    a = sorted(map(tuple, curriculum_order(docs).collect()))
    b = sorted(map(tuple, curriculum_order(docs.repartition(8)).collect()))
    assert a == b


def test_leakage_safe_split_never_straddles_clusters(spark):
    """Every near-dup component lands in exactly one split; singletons
    keep the plain band assignment (growth-stable)."""
    from wurzel_spark.operators.ordering import leakage_safe_split, train_split_assign

    rows = [(i, f"doc {i} body " + "filler " * 5) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # planted dup graph: chain {1,2,3}, pair {10, 25}; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 25)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["split"] for r in leakage_safe_split(docs, pairs).collect()}
    assert len(out) == 40
    assert out[1] == out[2] == out[3]
    assert out[10] == out[25]
    plain = {r["doc_id"]: r["split"] for r in train_split_assign(docs).collect()}
    for i in range(40):
        if i not in (1, 2, 3, 10, 25):
            assert out[i] == plain[i], i  # singletons unchanged
    # members inherit the CLUSTER MIN's band — stable representative
    assert out[2] == plain[1] and out[25] == plain[10]


# ------------------------------------------- proportional interleave

def test_interleave_spreads_sources_evenly(spark):
    """3:1 mixture: reading the schedule in order, every window of 4
    consecutive docs contains at most 1 doc of the minority source
    (stride keys place minority docs at 0, 1/n, 2/n... of the epoch)."""
    from wurzel_spark.operators.ordering import proportional_interleave

    rows = [(i, "big" if i % 4 else "small", "t") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = proportional_interleave(df).collect()
    order = [r["source"] for r in out]
    assert len(order) == 200
    for i in range(0, 200, 4):
        window = order[i : i + 4]
        assert window.count("small") <= 2, (i, window)
    # positions of the minority source are near-uniform: gaps of 3-5
    pos = [i for i, s in enumerate(order) if s == "small"]
    gaps = [b - a for a, b in zip(pos, pos[1:])]
    assert gaps and max(gaps) <= 5 and min(gaps) >= 3


def test_interleave_deterministic_across_partitionings(spark):
    from wurzel_spark.operators.ordering import proportional_interleave

    rows = [(i, f"s{i % 3}", "t") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = [tuple(r) for r in proportional_interleave(df.repartition(1)).collect()]
    b = [tuple(r) for r in proportional_interleave(df.repartition(7)).collect()]
    assert a == b
