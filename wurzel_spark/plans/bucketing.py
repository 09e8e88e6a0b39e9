"""Bucketed-table helpers: shuffle-free co-located joins at scale.

The 100 TB join strategy ladder is broadcast < bucketed co-location <
shuffle join. For fact-to-fact joins that recur on the same key (orders ⋈
lineitem on orderkey; chunk tables ⋈ embedding tables on source hash),
bucketing both sides identically at write time removes the per-query
shuffle entirely — each bucket pairs off by file layout.

Spark specifics encoded here:
  - ``bucketBy`` requires ``saveAsTable`` (catalog metadata carries the
    bucket spec); a ``path`` option makes the table external so the data
    lives where the pipeline wants it.
  - Both sides must have the SAME bucket count on the SAME key type, and
    ``spark.sql.sources.bucketing.enabled`` must be on (default).
  - ``sortBy`` within buckets additionally removes the sort from
    sort-merge joins.

``assert_no_exchange`` is the proof: tests join two bucketed tables and
assert the physical plan contains zero Exchange operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wurzel_spark.plans.inspect import plan_text


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (optionally bucket-sorted) table."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges only — a BroadcastExchange moves a dimension, not
    the fact table, and is not what bucketing eliminates."""
    s = plan_text(df)
    return s.count("Exchange") - s.count("BroadcastExchange")


def assert_no_exchange(df: DataFrame) -> None:
    n = exchange_count(df)
    assert n == 0, f"expected a shuffle-free plan, found {n} shuffle Exchange operator(s)"
