"""The shared n-gram window and bigram builders (functions/text.py) against
a pure-Python reference, at every length around the window size."""

from pyspark.sql import functions as F

from wurzel_spark.functions import text as TXT


def _ref_windows(ws, n):
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


def test_window_builder_short_document_rules(spark):
    """Word arrays of length 0, 1, n−1, n and n+1, for n = 1, 2, 3 and for
    n as an int and as a column: the empty-array rule, the whole-run rule
    and the up-front filter each match the reference; bigrams match
    ``zip(ws, ws[1:])``."""
    rows = [
        (n, [f"w{j}" for j in range(m)])
        for n in (1, 2, 3)
        for m in sorted({0, 1, n - 1, n, n + 1})
    ]
    df = spark.createDataFrame(rows, "n int, ws array<string>")
    join = lambda g: F.concat_ws(" ", g)  # noqa: E731
    out = {}
    for n in (1, 2, 3):
        part = df.filter(F.col("n") == n)
        got = part.select(
            "ws",
            TXT.windows("ws", n, join, F.array().cast("array<string>")).alias("empty"),
            TXT.windows("ws", n, join, F.array(join(F.col("ws")))).alias("whole"),
            TXT.windows("ws", F.col("n"), join, F.array().cast("array<string>")).alias("by_col"),
            F.when(F.size("ws") >= 2, TXT.bigrams(F.col("ws"))).alias("bg"),
        ).collect()
        kept = part.filter(F.size("ws") - (n - 1) > 0).select(
            "ws", TXT.windows("ws", n, join).alias("filtered")
        ).collect()
        out[n] = (got, {tuple(r["ws"]): r["filtered"] for r in kept})
    for n, (got, filtered) in out.items():
        assert len(got) == len({0, 1, n - 1, n, n + 1})
        for r in got:
            ws = r["ws"]
            long = len(ws) >= n
            want = _ref_windows(ws, n)
            assert r["empty"] == (want if long else []), (n, ws)
            assert r["whole"] == (want if long else [" ".join(ws)]), (n, ws)
            assert r["by_col"] == r["empty"], (n, ws)
            assert filtered.get(tuple(ws)) == (want if long else None), (n, ws)
            pairs = [(b.w1, b.w2) for b in r["bg"]] if r["bg"] is not None else None
            assert pairs == (list(zip(ws, ws[1:])) if len(ws) >= 2 else None), ws


def test_word_hashes_run_once_per_document(spark, sf_dir):
    """The empty-document rule of the signature kernel and the span-hash
    stream must not put a second split of the text into the plan (a
    ``size(whs) > 0`` filter is pushed below the spread into the scan and
    re-tokenizes every document there)."""
    from wurzel_spark import tables
    from wurzel_spark.operators import dedup as D

    docs = tables.table(spark, sf_dir, "documents")

    def splits(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("split(trim(")

    assert splits(D.simhash64(docs)) == 1
    assert splits(D.combined_near_dup_signatures(docs, "doc_id", "text")) == 1
    assert splits(D._span_hash_stream(docs, "doc_id", "text", 5)) == 1
    assert splits(D._span_hash_stream(docs, "doc_id", "text", 5, pos=True)) == 1
