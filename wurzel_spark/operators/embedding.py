"""Embedding operators (SURVEY §2.5).

Reference parity:
  - EmbeddingStep (wurzel/steps/embedding/step.py:281-292, base run
    :239-278): split → clean text → embed → EmbeddingResult rows
  - TruncatedEmbeddingStep (:295-346): truncate to token window instead of
    splitting
  - EmbeddingMultiVectorStep (step_multivector.py:34-123): keep ALL chunk
    vectors per source document
  - PrefixedAPIEmbeddings (huggingface.py:155-188): model-dependent query
    prefix ({'e5-': 'query: '}, settings.py:58-60)
  - md→plain cleaning + stopword "simple context" (step.py:123-181)

Spark shape: embedding backends run per-partition with a process-level
client (one HTTP session per partition, batched requests — the reference's
N_JOBS thread pool becomes partition parallelism). For tests/offline runs a
deterministic hash embedder (sha256-seeded unit vector) replaces the HTTP
call — same schema, reproducible values (FIXTURES: "vectors = seeded hash of
text").
"""

from __future__ import annotations

import hashlib
import math
import struct as _struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wurzel_spark.functions import text as TXT

#: model-name → query prefix (embedding/settings.py:58-60)
DEFAULT_PREFIX_MAP = {"e5-": "query: "}


class EmbeddingAPIError(RuntimeError):
    """A single embed/info request failed (timeout, connection, non-200,
    bad JSON) — the skippable error class (reference
    wurzel/exceptions EmbeddingAPIException; step.py:263-267 catches this
    per input and skips)."""


class TEIClient:
    """Text-Embeddings-Inference HTTP client (reference
    wurzel/steps/embedding/huggingface.py:43-153, re-expressed for
    per-partition reuse):

      - ``POST /embed {"inputs": [texts], "normalize": ...}`` — BATCHED:
        one request per ``batch_size`` texts instead of the reference's
        one-text-per-request loop (huggingface.py:81-84); TEI's list form
        returns one vector per input.
      - ``GET /info`` → ``model_id`` drives prefix selection
        (huggingface.py:140-152): the model name's last path segment is
        matched against a {pattern: prefix} map, no-match is fatal
        (UnrecoverableFatalException parity).

    Holds only strings/numbers until first use → picklable, so executors
    can build one session per partition from ``session_factory`` (the
    injectable-transport pattern of sinks/http_backends.py — tests run a
    fake session, production the default ``requests.Session``).
    """

    def __init__(
        self,
        base_url: str,
        timeout: float = 10.0,
        normalize: bool = False,
        session_factory=None,
    ):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self.normalize = normalize
        self.session_factory = session_factory
        self._s = None

    def _session(self):
        if self._s is None:
            if self.session_factory is not None:
                self._s = self.session_factory()
            else:  # pragma: no cover - needs network
                import requests

                self._s = requests.Session()
        return self._s

    def _request(self, method: str, path: str, payload=None) -> object:
        try:
            resp = self._session().request(
                method, f"{self.base_url}{path}", json=payload, timeout=self.timeout
            )
        except Exception as err:  # timeout / connection (huggingface.py:101-105)
            raise EmbeddingAPIError(f"{path} request failed: {err}") from err
        if resp.status_code != 200:
            raise EmbeddingAPIError(f"{path} failed, invalid status_code {resp.status_code}")
        try:
            return resp.json()
        except ValueError as err:
            raise EmbeddingAPIError(f"{path} returned invalid json") from err

    def model_id(self) -> str:
        """Model discovery via ``GET /info`` (huggingface.py:145-152):
        missing ``model_id`` is a protocol error, not a skippable one."""
        out = self._request("GET", "/info")
        if not isinstance(out, dict) or "model_id" not in out:
            raise ValueError(f"/info response missing model_id: {out!r}")
        return str(out["model_id"]).strip("/").split("/")[-1]

    def embed(self, texts: list[str]) -> list[list[float]]:
        """One batched ``POST /embed``; validates the response is one
        vector per input (huggingface.py:127-137's structure check)."""
        out = self._request(
            "POST", "/embed", {"inputs": texts, "normalize": self.normalize}
        )
        if not isinstance(out, list) or len(out) != len(texts):
            raise EmbeddingAPIError(
                f"/embed returned {len(out) if isinstance(out, list) else type(out)} "
                f"vectors for {len(texts)} inputs"
            )
        return out


def prefix_for_model(model_id: str, prefix_mapping: dict[str, str]) -> str:
    """Pick the query prefix for a model name (huggingface.py:177-191):
    first pattern that ``re.search``-matches wins; NO match is fatal — a
    silently-unprefixed E5 model embeds garbage."""
    import re

    for pattern, prefix in prefix_mapping.items():
        if re.search(pattern, model_id):
            return prefix
    raise ValueError(
        f"no prefix mapping matches model {model_id!r}: {list(prefix_mapping)}"
    )


def clean_for_embedding(df: DataFrame, md_col: str = "md") -> DataFrame:
    """Markdown → embedding input text (step.py:123-140): replace URLs with
    'LINK', strip markdown furniture, collapse whitespace. Pure column ops.
    """
    return df.withColumn(
        "embedding_input_text", TXT.strip_markdown(TXT.replace_urls(F.col(md_col)))
    )


def simple_context(df: DataFrame, keywords_col: str = "keywords", stopwords: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-filtered keyword context (step.py:168-181): tokenize
    keywords, drop stopwords (in any case), re-join. Stopword set folds to
    a literal array (broadcast by constant folding).
    """
    stop_arr = F.array(*[F.lit(s.lower()) for s in stopwords]) if stopwords else F.array()
    toks = F.split(F.col(keywords_col), r"([.,!?]+)?\s+")
    kept = F.filter(toks, lambda t: (t != "") & ~F.array_contains(stop_arr, F.lower(t)))
    return df.withColumn(keywords_col, F.array_join(kept, " "))


def hash_embedding(text: str, dim: int = 64) -> list[float]:
    """Deterministic unit vector from sha256(text) — the offline embedding
    backend. Each float is derived from the digest stream; the vector is
    L2-normalized. Pure function of the input text.
    """
    out: list[float] = []
    counter = 0
    raw = text.encode("utf-8")
    while len(out) < dim:
        h = hashlib.sha256(raw + counter.to_bytes(4, "big")).digest()
        for i in range(0, 32, 4):
            if len(out) >= dim:
                break
            (u,) = _struct.unpack(">I", h[i : i + 4])
            out.append((u / 2**31) - 1.0)  # [-1, 1)
        counter += 1
    n = math.sqrt(sum(x * x for x in out)) or 1.0
    return [x / n for x in out]


def _embed_series(texts: pd.Series, dim: int) -> pd.Series:
    return pd.Series([hash_embedding(t or "", dim) for t in texts])


def tei_embed_stage(
    df: DataFrame,
    url: str,
    prefix: str = "",
    prefix_mapping: dict[str, str] | None = None,
    batch_size: int = 32,
    timeout: float = 10.0,
    normalize: bool = False,
    session_factory=None,
    fail_if_all_fail: bool = True,
) -> DataFrame:
    """EmbeddingStep with the REAL HTTP backend: chunks → EmbeddingResult
    via a Text-Embeddings-Inference server.

    Protocol parity (reference wurzel/steps/embedding/):
      - model discovery ONCE on the driver via ``GET /info``, prefix
        chosen from ``prefix_mapping`` (huggingface.py:140-152) unless an
        explicit ``prefix`` is given;
      - executors post ``batch_size`` texts per ``POST /embed`` with one
        HTTP session per partition (the reference's N_JOBS thread pool
        becomes partition parallelism);
      - a failed request SKIPS its batch — rows drop from the output, the
        run continues (step.py:263-267);
      - if EVERY row was skipped the stage raises (step.py:270-272's
        StepFailed) — checked with one aggregate over the checkpointed
        result so embeddings are not recomputed by the check.

    ``session_factory`` injects the transport (fake in tests, a
    ``requests.Session`` by default) — the sinks/http_backends.py pattern.
    """
    cleaned = clean_for_embedding(df)
    if not prefix:
        mapping = DEFAULT_PREFIX_MAP if prefix_mapping is None else prefix_mapping
        model = TEIClient(url, timeout, normalize, session_factory).model_id()
        prefix = prefix_for_model(model, mapping)
    out_schema = T.StructType(
        [
            T.StructField("text", T.StringType(), True),
            T.StructField("vector", T.ArrayType(T.FloatType()), True),
            cleaned.schema["url"],
            cleaned.schema["keywords"],
            T.StructField("embedding_input_text", T.StringType(), True),
            cleaned.schema["metadata"],
        ]
    )
    sel = cleaned.select(
        F.col("md").alias("text"), "url", "keywords", "embedding_input_text", "metadata"
    )
    pfx = prefix

    def op(batches):
        client = TEIClient(url, timeout, normalize, session_factory)
        for pdf in batches:
            texts = [pfx + (t or "") for t in pdf["embedding_input_text"]]
            vecs: list = []
            for i in range(0, len(texts), batch_size):
                chunk = texts[i : i + batch_size]
                try:
                    vecs.extend(client.embed(chunk))
                except EmbeddingAPIError:
                    # skip the batch, keep the run alive (step.py:263-267)
                    vecs.extend([None] * len(chunk))
            out = pdf[
                ["text", "url", "keywords", "embedding_input_text", "metadata"]
            ].copy()
            out.insert(1, "vector", pd.Series(vecs, index=pdf.index, dtype=object))
            yield out

    res = sel.mapInPandas(op, out_schema)
    # Checkpoint UNCONDITIONALLY (ADVICE r6): without it, every downstream
    # action replays the mapInPandas stage and re-POSTs every text to the
    # TEI server — with fail_if_all_fail=False that silently multiplied
    # external HTTP load per action. One eager checkpoint = exactly one
    # fetch per stage call, whatever the caller does with the result.
    res = res.localCheckpoint(eager=True)
    if fail_if_all_fail:
        agg = res.agg(
            F.count(F.lit(1)).alias("n"), F.count("vector").alias("ok")
        ).collect()[0]
        if agg["n"] > 0 and agg["ok"] == 0:
            raise RuntimeError(f"all {agg['n']} embeddings got skipped")
    return res.filter(F.col("vector").isNotNull())


def embed_stage(
    df: DataFrame,
    dim: int = 64,
    prefix: str = "",
    backend: str = "hash",
    **tei_kwargs,
) -> DataFrame:
    """MarkdownDataContract chunks → EmbeddingResult
    {text, vector, url, keywords, embedding_input_text, metadata}
    (wurzel/steps/data.py:11-21).

    backend='hash' is the deterministic offline embedder; backend='tei'
    posts batched requests to a Text-Embeddings-Inference server
    (:func:`tei_embed_stage` — pass ``url=...`` plus optionally
    ``session_factory`` / ``batch_size`` / ``prefix_mapping``).
    """
    if backend == "tei":
        return tei_embed_stage(df, prefix=prefix, **tei_kwargs)
    if backend != "hash":  # pragma: no cover
        raise NotImplementedError(
            f"unknown embedding backend {backend!r}; use 'hash' (offline "
            "deterministic) or 'tei' (HTTP Text-Embeddings-Inference)."
        )

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return _embed_series(texts, dim)

    cleaned = clean_for_embedding(df)
    inp = F.concat(F.lit(prefix), F.col("embedding_input_text"))
    return cleaned.select(
        F.col("md").alias("text"),
        _embed(inp).alias("vector"),
        "url",
        "keywords",
        "embedding_input_text",
        "metadata",
    )


def embed_multivector_stage(df: DataFrame, dim: int = 64) -> DataFrame:
    """EmbeddingMultiVectorStep (step_multivector.py:34-123): group chunks
    back to their source document, keeping every chunk vector + chunk text.

    Chunk order inside arrays is made deterministic by sorting on
    metadata.chunk_index (collect_list alone is order-nondeterministic under
    shuffle — SURVEY §7 determinism rule).
    """
    embedded = embed_stage(df, dim)
    keyed = embedded.withColumn(
        "__idx", F.col("metadata")["chunk_index"].cast("int")
    ).withColumn("__src", F.col("metadata")["source_sha256_hash"])
    packed = (
        keyed.groupBy("__src")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__idx", "vector", F.col("text").alias("t")))
            ).alias("parts"),
            F.first("url").alias("url"),
            F.first("keywords").alias("keywords"),
        )
    )
    return packed.select(
        F.array_join(F.transform("parts", lambda p: p["t"]), "\n\n").alias("text"),
        F.transform("parts", lambda p: p["vector"]).alias("vectors"),
        "url",
        "keywords",
        F.transform("parts", lambda p: p["t"]).alias("splits"),
    )


def truncated_embed_stage(df: DataFrame, dim: int = 64, token_limit: int = 256) -> DataFrame:
    """TruncatedEmbeddingStep (step.py:295-346): truncate each document to
    the token window (no splitting), then embed. Truncation runs in the same
    pandas UDF pass as the embedding — one Python boundary crossing.
    """
    from wurzel_spark.functions import tokens as TK

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed_trunc(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [hash_embedding(TK.limit_token_count(t or "", token_limit), dim) for t in texts]
        )

    cleaned = clean_for_embedding(df)
    return cleaned.select(
        F.col("md").alias("text"),
        _embed_trunc("embedding_input_text").alias("vector"),
        "url",
        "keywords",
        "embedding_input_text",
        "metadata",
    )


def embedding_distribution_stats(df: DataFrame, vector_col: str = "vector") -> DataFrame:
    """The reference's vector-distribution logging (step.py:89-121) as a
    first-class aggregation: stats over every vector component.
    """
    comp = df.select(F.explode(vector_col).alias("x"))
    return comp.agg(
        F.mean("x").alias("mean"),
        F.expr("percentile(x, 0.5)").alias("median"),
        F.stddev("x").alias("std"),
        F.variance("x").alias("var"),
        F.min("x").alias("min"),
        F.expr("percentile(x, 0.05)").alias("p5"),
        F.expr("percentile(x, 0.25)").alias("p25"),
        F.expr("percentile(x, 0.75)").alias("p75"),
        F.expr("percentile(x, 0.95)").alias("p95"),
        F.max("x").alias("max"),
    )


# ---------------------------------------------------------------- queries

def q_embed_documents(spark, sf_dir: str) -> DataFrame:
    """Driver-visible EmbeddingStep run over the documents table (rows-only
    check: the offline hash embedder is engine-internal; schema/determinism
    tested in tests/test_embedding.py). Returns one row per document with
    the vector dimension and L2 norm — norm ≈ 1 proves normalization.
    """
    from wurzel_spark.tables import table

    docs = table(spark, sf_dir, "documents").select(
        F.col("text").alias("md"),
        F.col("source").alias("keywords"),
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast(T.MapType(T.StringType(), T.StringType())).alias("metadata"),
    )
    emb = embed_stage(docs, dim=64)
    return emb.select(
        F.col("url").cast("long").alias("doc_id"),
        F.size("vector").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("vector", lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
            6,
        ).alias("l2_norm"),
    ).orderBy("doc_id")


def q_embed_multivector(spark, sf_dir: str) -> DataFrame:
    """Driver-visible EmbeddingMultiVectorStep run (rows-only): documents →
    semantic chunks → per-chunk vectors regrouped per source doc. Checks the
    collect_list determinism path (chunks sorted by chunk_index).
    """
    from wurzel_spark.operators.splitter import split_stage
    from wurzel_spark.tables import table

    docs = table(spark, sf_dir, "documents").select(
        F.col("text").alias("md"),
        F.col("source").alias("keywords"),
        F.col("doc_id").cast("string").alias("url"),
    )
    chunks = split_stage(docs, token_limit=32, token_limit_buffer=8, token_limit_min=8)
    mv = embed_multivector_stage(chunks, dim=16)
    return mv.select(
        F.col("url").cast("long").alias("doc_id"),
        F.size("vectors").alias("n_vectors"),
        F.size("splits").alias("n_splits"),
        F.length("text").alias("joined_len"),
    ).orderBy("doc_id")
