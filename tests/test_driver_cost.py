"""The fixed driver cost a long-lived session pays once, not per query:
generated classes stay compiled, each table's parquet schema is inferred
once per file, and ``common.parallelize`` decides without running a job.
"""

import contextlib
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wurzel_spark.operators import common
from wurzel_spark.session import codegen_compiles
from wurzel_spark.tables import table

#: the queries of the perfbench `queries` workload
BENCHED = (
    "combined_near_dup_pairs",
    "supplier_pagerank",
    "semdedup_keep",
    "doc_tfidf_keywords",
    "q1_pricing_summary",
    "sessionize",
)

_groups = itertools.count()


@contextlib.contextmanager
def jobs_run(spark):
    """Yields a list that holds, after the block, the ids of the jobs the
    block ran (under a job group of its own)."""
    sc = spark.sparkContext
    group = f"driver-cost-{next(_groups)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema]


def test_benched_queries_recompile_nothing_on_a_second_round(spark, sf_dir):
    """One round of the benched queries makes ~190 generated classes, more
    than Spark's default cache of 100 holds: the second round recompiled
    most of them. Sized to the working set, it compiles none."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for _ in range(2):
        before = codegen_compiles(spark)
        for name in BENCHED:
            qs[name](spark, sf_dir).toPandas()
    assert codegen_compiles(spark) - before == 0


def test_unchanged_table_is_read_without_a_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "s": ["a", None, "c"]}), tmp_path / "t.parquet")
    with jobs_run(spark) as first:
        table(spark, str(tmp_path), "t")
    with jobs_run(spark) as second:
        df = table(spark, str(tmp_path), "t")
    assert first, "the first read infers the schema with a footer job"
    assert second == []
    assert _fields(df.schema) == _fields(spark.read.parquet(str(tmp_path / "t.parquet")).schema)
    assert sorted(df.collect()) == sorted(
        spark.read.parquet(str(tmp_path / "t.parquet")).collect()
    )


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["k"]
    os.remove(path)
    pq.write_table(pa.table({"k": [7], "v": [0.5]}), path)
    df = table(spark, str(tmp_path), "t")
    assert _fields(df.schema) == [("k", T.LongType(), True), ("v", T.DoubleType(), True)]
    assert [tuple(r) for r in df.collect()] == [(7, 0.5)]


def test_events_ts_stays_a_timestamp_when_the_schema_is_reused(spark, sf_dir):
    table(spark, sf_dir, "events")
    with jobs_run(spark) as ids:
        df = table(spark, sf_dir, "events")
    assert ids == []
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.agg(F.min("ts")).first()[0] is not None


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("before", ["false", "true"])
def test_events_read_leaves_nanos_as_long_as_it_was(spark, sf_dir, before):
    spark.conf.set(_NANOS_AS_LONG, before)
    try:
        table(spark, sf_dir, "events")
        assert spark.conf.get(_NANOS_AS_LONG) == before
    finally:
        spark.conf.set(_NANOS_AS_LONG, "false")


def test_events_read_keeps_other_tables_schema_memo(spark, sf_dir, tmp_path):
    """nanosAsLong is part of the memo key: left on after an events read,
    it made the next read of every other table infer its schema again."""
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), tmp_path / "orders.parquet")
    spark.conf.set(_NANOS_AS_LONG, "false")
    try:
        table(spark, str(tmp_path), "orders")
        table(spark, sf_dir, "events")
        with jobs_run(spark) as ids:
            table(spark, str(tmp_path), "orders")
    finally:
        spark.conf.set(_NANOS_AS_LONG, "false")
    assert ids == []


def test_nanosecond_events_ts_reads_as_timestamp(spark, tmp_path):
    nanos = [1_600_000_000_123_456_789, 1_700_000_000_000_001_999]
    ts = pa.array(nanos, pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "k": [1, 2]}), tmp_path / "events.parquet", version="2.6")
    df = table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("k").collect()]
    assert got == [n // 1000 for n in nanos]


def test_each_call_returns_a_fresh_relation(spark, sf_dir):
    """Only the schema is memoized: a self-join of two reads resolves."""
    a, b = table(spark, sf_dir, "region"), table(spark, sf_dir, "region")
    n = a.alias("a").join(b.alias("b"), F.col("a.r_regionkey") == F.col("b.r_regionkey")).count()
    assert n == a.count()


def test_parallelize_runs_no_job(spark, sf_dir):
    """The old ``.rdd.getNumPartitions()`` probe executed the frame's
    exchanges under AQE; the plan estimate runs nothing."""
    docs = table(spark, sf_dir, "documents")
    grouped = docs.groupBy("source").count()
    with jobs_run(spark) as ids:
        common.parallelize(grouped)
    assert ids == []


def test_parallelize_spreads_a_one_split_scan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    assert common.parallelize(docs).rdd.getNumPartitions() == target


@pytest.mark.parametrize("over", [0, 1, None])
def test_parallelize_leaves_large_or_unknown_frames_alone(spark, monkeypatch, over):
    df = spark.range(10)
    threshold = (
        spark.sparkContext.defaultParallelism
        * spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    size = None if over is None else threshold + over
    monkeypatch.setattr(common, "plan_size_bytes", lambda _: size)
    assert common.parallelize(df) is df
    monkeypatch.setattr(common, "plan_size_bytes", lambda _: threshold - 1)
    assert common.parallelize(df) is not df


def test_pin_skips_a_projection_of_a_checkpoint(spark):
    ck = spark.range(20).withColumn("v", F.col("id") * 2).localCheckpoint()
    plain = ck.select("id", F.col("v").alias("w"))
    with jobs_run(spark) as ids:
        assert common.pin(plain) is plain
    assert ids == []
    computed = ck.select("id", (F.col("v") + 1).alias("w"))
    with jobs_run(spark) as ids:
        assert common.pin(computed) is not computed
    assert ids, "a computed column is pinned"
