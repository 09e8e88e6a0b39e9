"""Stage/Pipeline composition, contracts, lineage."""

import pytest
from pyspark.sql import functions as F

from wurzel_spark.contracts import MARKDOWN_DOC, Contract, ContractError, StaticTypeError, struct
from wurzel_spark.sources.markdown import read_markdown_folder
from wurzel_spark.stage import Pipeline, Stage
import pyspark.sql.types as T


def test_pipeline_composes_and_stamps_history(spark, md_folder):
    pipe = (
        Pipeline(lambda s: read_markdown_folder(s, md_folder))
        >> Stage("Dedup", lambda df: df.dropDuplicates(["md"]), MARKDOWN_DOC, MARKDOWN_DOC)
        >> Stage("Upper", lambda df: df.withColumn("keywords", F.upper("keywords")))
    )
    out = pipe.run(spark)
    assert pipe.history() == "Dedup-Upper"
    assert out.select("history").distinct().collect()[0][0] == "Dedup-Upper"


def test_static_type_check_rejects_incompatible(spark):
    a = Contract("A", struct(("x", T.StringType(), False)))
    b = Contract("B", struct(("y", T.LongType(), False)))
    with pytest.raises(StaticTypeError):
        (
            Pipeline(lambda s: s.range(1))
            >> Stage("one", lambda df: df, None, a)
            >> Stage("two", lambda df: df, b, None)
        )


def test_dynamic_validation_raises_on_missing_column(spark):
    df = spark.createDataFrame([("x",)], "md string")
    with pytest.raises(ContractError, match="missing column"):
        MARKDOWN_DOC.validate(df)


def test_dynamic_validation_raises_on_nulls(spark):
    df = spark.createDataFrame(
        [(None, "k", "u", None)],
        "md string, keywords string, url string, metadata map<string,string>",
    )
    with pytest.raises(ContractError, match="violations"):
        MARKDOWN_DOC.validate(df)


def test_materialization_roundtrip(spark, md_folder, tmp_path):
    pipe = Pipeline(lambda s: read_markdown_folder(s, md_folder)) >> Stage(
        "Dedup", lambda df: df.dropDuplicates(["md"])
    )
    out = pipe.run(spark, materialize_dir=str(tmp_path / "stages"), with_reports=True)
    assert out.count() == 5
    assert (tmp_path / "stages" / "Dedup").exists()
    assert pipe.reports and pipe.reports[0].stage == "Dedup"


def test_incremental_memoization(spark, tmp_path):
    """Cross-run DVC-parity: unchanged stages are read from cache, changed
    fingerprints invalidate the chain."""
    from pyspark.sql import functions as F

    from wurzel_spark.stage import Pipeline, Stage

    mat = str(tmp_path / "stages")
    executions = []

    def make_pipeline(marker):
        def src(s):
            return s.range(10).select(F.col("id").alias("md"))

        def double(df):
            executions.append(marker)
            return df.withColumn("md2", F.col("md") * 2)

        return Pipeline(src) >> Stage("double", double)

    out1 = make_pipeline("run1").run(
        spark, materialize_dir=mat, incremental=True, cache_fingerprint="v1"
    )
    assert out1.count() == 10
    assert executions == ["run1"]

    # same fingerprint + same code -> stage skipped (cache read)
    out2 = make_pipeline("run2").run(
        spark, materialize_dir=mat, incremental=True, cache_fingerprint="v1"
    )
    assert out2.count() == 10
    assert executions == ["run1"]  # run2 never executed

    # changed source fingerprint -> recomputed
    make_pipeline("run3").run(
        spark, materialize_dir=mat, incremental=True, cache_fingerprint="v2"
    )
    assert executions == ["run1", "run3"]


def test_self_consuming_source(spark, tmp_path):
    from pyspark.sql import functions as F

    from wurzel_spark.stage import self_consuming_source

    prev = str(tmp_path / "prev_output")
    spark.range(5).select(F.col("id").alias("md")).write.parquet(prev)

    fresh = self_consuming_source(
        lambda s: s.range(3).select(F.col("id").alias("md")), prev
    )
    assert fresh(spark).count() == 3  # fresh input wins

    empty = self_consuming_source(
        lambda s: s.range(0).select(F.col("id").alias("md")), prev
    )
    assert empty(spark).count() == 5  # falls back to own previous output

    broken = self_consuming_source(lambda s: (_ for _ in ()).throw(IOError("down")), prev)
    assert broken(spark).count() == 5  # unavailable input falls back


def test_curation_v2_stage_pipeline(spark):
    """End-to-end Stage composition of the round-4 curation operators:
    PII redaction → Gopher gate → quality-aware near-dup keep → per-domain
    cap, all through the contract/lineage machinery — the lifecycle the
    reference runs its TypedSteps through (SURVEY §3), with the new
    selection rules as first-class stages."""
    from wurzel_spark.operators import dedup as D
    from wurzel_spark.operators import selection
    from wurzel_spark.operators.textstats import pii_redact

    shared = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, "mail me at a@b.co " + shared, "en", "siteA"),
        (2, shared + " extra tail content appended here now", "en", "siteA"),  # near-dup of 1, longer
        (3, "tiny", "en", "siteA"),  # fails the word-count gate
        (4, " ".join(f"other{i}" for i in range(40)), "en", "siteB"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    doc_contract = None  # schema is ad hoc here; contracts exercised elsewhere

    def redact(df):
        red = pii_redact(df).select("doc_id", "redacted_text")
        return df.join(red, "doc_id").drop("text").withColumnRenamed(
            "redacted_text", "text"
        )

    def gate(df):
        from wurzel_spark.functions import text as TXT

        return df.filter(TXT.word_count(F.col("text")) >= 10)

    def best_keep(df):
        pairs = D.ngram_jaccard_pairs(df, threshold=0.5, sort=False)
        keep = selection.cluster_best_keep(df, pairs).select(
            F.col("keep_doc_id").alias("doc_id")
        )
        clustered = D.near_dup_cluster_members(pairs).select("doc_id")
        survivors = df.join(clustered, "doc_id", "left_anti").select("doc_id").union(keep)
        return df.join(survivors, "doc_id", "left_semi")

    pipe = (
        Pipeline(lambda s: docs)
        >> Stage("Redact", redact, doc_contract, doc_contract)
        >> Stage("Gate", gate)
        >> Stage("BestKeep", best_keep)
        >> Stage("DomainCap", lambda df: df.join(
            selection.domain_cap_sample(df, cap=10).select("doc_id"), "doc_id", "left_semi"
        ))
    )
    out = pipe.run(spark)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # doc 3 gated out; docs 1/2 near-dup cluster keeps the LONGER doc 2;
    # doc 4 survives; every kept text is redacted
    assert kept == {2, 4}
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert "<EMAIL>" not in texts.get(4, "")
    assert pipe.history() == "Redact-Gate-BestKeep-DomainCap"


def test_report_counts_read_the_step_boundary_not_the_source(spark):
    """With reports on, each stage's count reads its input from the step
    boundary's cache: the first stage's UDF filter runs for its own count
    and once more to fill that cache, not once per downstream count (a
    count used to replay every stage from the source: 4 × 50 calls here)."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(v):
        acc.add(1)
        return v % 2 == 0

    pipe = (
        Pipeline(lambda s: s.range(50).selectExpr("id AS v"))
        >> Stage("Filter", lambda df: df.filter(keep("v")))
        >> Stage("A", lambda df: df.withColumn("a", F.col("v") + 1))
        >> Stage("B", lambda df: df.withColumn("b", F.col("a") + 1))
        >> Stage("C", lambda df: df.withColumn("c", F.col("b") + 1))
    )
    out = pipe.run(spark, with_reports=True)
    assert [(r.stage, r.rows_out) for r in pipe.reports] == [
        ("Filter", 25), ("A", 25), ("B", 25), ("C", 25)
    ]
    assert acc.value == 2 * 50
    assert out.count() == 25
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
