"""The benchmark's workloads: one pass of each, its output check, and the
layer metrics its traced passes yield.

``rag_ingest`` runs the system's real job: a YAML manifest (markdown folder
→ exact dedup → split → embed → near-dup filter → versioned sink) through
``manifest.run_manifest``. ``queries`` builds registered queries from
``__spark_entry__.queries()`` and drains each to the driver through Arrow.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import checks, datagen, steps
from perfbench.sparkstat import Counters, counters, job_group
from perfbench.trace import Tracer, self_times

SF = 0.01  # the query tables; rag_ingest reads its documents table

# rag_ingest
RAG_DOCS = 100
SPLIT = {"token_limit": 64, "token_limit_buffer": 8, "token_limit_min": 16}
DIM = 64
NEAR_DUP_THRESHOLD = 0.5
COLLECTION = "kb"
HISTORY_LEN = 10  # VersionedCollectionWriter's default

#: manifest step -> layer (repository module) it calls into
RAG_LAYERS = {
    "source": "sources.markdown",
    "dedup": "operators.dedup.exact",
    "split": "operators.splitter",
    "embed": "operators.embedding",
    "neardup": "operators.dedup.near",
    "sink": "sinks.versioned",
}

# queries: one curation query per operator module, then two relational /
# event-stream control queries (plain Catalyst, no Python UDFs).
CURATION = [
    "combined_near_dup_pairs",
    "supplier_pagerank",
    "semdedup_keep",
    "doc_tfidf_keywords",
]
CONTROL = ["q1_pricing_summary", "sessionize"]
QUERY_MODULES = [
    "operators.dedup",
    "operators.graph",
    "operators.similarity",
    "operators.textstats",
    "queries.relational",
    "queries.events",
]


@dataclass
class Op:
    """One timed operation: a rag_ingest pass or one query built + drained."""

    name: str
    group: str  # the Spark job group its actions ran under
    latency_s: float
    result: object = None  # what the check inspects (a drained query result)
    problems: list[str] = field(default_factory=list)
    counters: Counters = field(default_factory=Counters)


class Workload:
    name = ""
    items_per_pass = 0

    def __init__(self, work: str, data_root: str, seed: int):
        self.work = work
        self.data_root = data_root
        self.seed = seed
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        """Benchmark-only input generation (not part of set-up time)."""

    def bind(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext

    def warm(self) -> None:
        """One untimed pass before the timed ones: it starts the Python
        workers and compiles code. The JVM's JIT keeps speeding passes up
        for about three more passes; waiting for that would make a run too
        long for the benchmark's time budget, so every run measures from the
        same partly warmed state."""
        self.run_pass("warm")

    def run_pass(self, tag: str, tracer: Tracer | None = None) -> list[Op]:
        """One timed pass; its actions run under job groups below ``tag``."""
        raise NotImplementedError

    def check(self, op: Op) -> list[str]:
        """Problems with the output of ``op`` (run after the pass, untimed)."""
        raise NotImplementedError

    def traced_extras(self, tag: str) -> dict[str, float]:
        """Counts taken at the layer boundaries right after traced pass ``tag``."""
        return {}

    def layer_metrics(self, tracer: Tracer, traced: dict[str, dict]) -> dict[str, float]:
        """Per-layer metrics, each the median over the traced passes
        (``tag -> traced_extras``)."""
        raise NotImplementedError

    def pass_metrics(self, ops: list[Op]) -> dict[str, float]:
        """Layer ratios taken from one untraced pass."""
        return {}


# ----------------------------------------------------------------- corpus

_INVALID_YAML = "keywords: [unclosed\nurl: : :\n"


def write_corpus(docs: list[dict], dest: str, rng: random.Random) -> tuple[list[str], int]:
    """One ``.md`` file per document under ``dest``. The seed picks each
    file's name and directory depth and whether it carries valid YAML front
    matter, the deprecated ``topics`` key, invalid YAML or none. Returns the
    markdown bodies and the folder's size in bytes."""
    bodies, nbytes = [], 0
    for d in docs:
        depth = rng.randrange(3)
        sub = os.path.join(dest, *(f"d{rng.randrange(4)}" for _ in range(depth)))
        os.makedirs(sub, exist_ok=True)
        kind = rng.choices(["none", "valid", "topics", "invalid"], [40, 45, 5, 10])[0]
        body = d["text"]
        if kind == "valid":
            head = (
                f"---\nkeywords: \"{d['source']},{d['lang']}\"\n"
                f"url: \"kb://doc/{d['doc_id']}\"\nmetadata:\n  lang: {d['lang']}\n---\n"
            )
        elif kind == "topics":
            head = f"---\ntopics: {d['source']}\n---\n"
        elif kind == "invalid":
            head = f"---\n{_INVALID_YAML}---\n"
        else:
            head = ""
        path = os.path.join(sub, f"{rng.getrandbits(32):08x}-{d['doc_id']}.md")
        with open(path, "w") as f:
            f.write(head + body)
        nbytes += os.path.getsize(path)
        bodies.append(body)
    return bodies, nbytes


def manifest_yaml(md_dir: str, root: str) -> str:
    s = SPLIT
    return f"""
pipeline:
  name: rag_ingest
steps:
  source:
    uses: markdown_source
    settings: {{path: "{md_dir}", url_prefix: "file:"}}
  dedup:
    uses: dedup
    dependsOn: [source]
    settings: {{fields: md}}
  split:
    uses: split
    dependsOn: [dedup]
    settings: {{token_limit: {s['token_limit']}, token_limit_buffer: {s['token_limit_buffer']}, token_limit_min: {s['token_limit_min']}}}
  embed:
    uses: embed
    dependsOn: [split]
    settings: {{dim: {DIM}}}
  neardup:
    uses: "perfbench.steps:near_dup"
    dependsOn: [embed]
    settings: {{threshold: {NEAR_DUP_THRESHOLD}}}
  sink:
    uses: "perfbench.steps:versioned_sink"
    dependsOn: [neardup]
    settings: {{root: "{root}", collection: {COLLECTION}}}
"""


def span_chain(tracer: Tracer, sc, outputs: dict):
    """Middleware chain for traced passes: one span and one job group per
    step, the step's output pinned with an eager localCheckpoint inside the
    span so its work is charged to its own layer."""
    from pyspark.sql import DataFrame

    from wurzel_spark.middleware import MiddlewareChain

    def mw(ctx, call_next):
        layer = RAG_LAYERS[ctx.step_name]
        with job_group(sc, f"{tracer.trace_id}/{layer}"), tracer.span(layer):
            out = call_next(ctx)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        outputs[layer] = out
        return out

    return MiddlewareChain([mw])


def median(xs) -> float:
    """Median of ``xs``; 0.0 when there are none."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class RagIngest(Workload):
    name = "rag_ingest"

    def __init__(self, *a, n_docs: int = RAG_DOCS, **kw):
        super().__init__(*a, **kw)
        self.items_per_pass = n_docs

    def prepare(self) -> None:
        from wurzel_spark.sinks.versioned import LocalCollectionBackend

        docs = pq.read_table(
            os.path.join(datagen.ensure(self.data_root, SF), "documents.parquet")
        ).to_pylist()[: self.items_per_pass]
        self.md_dir = os.path.join(self.work, "md")
        bodies, self.folder_bytes = write_corpus(docs, self.md_dir, self.rng)
        self.root = os.path.join(self.work, "collections")
        # a full history, so every pass also retires the oldest version
        be = LocalCollectionBackend(self.root)
        for n in range(1, HISTORY_LEN + 1):
            be.create_collection(f"{COLLECTION}_v{n}", {"columns": ["id"]})
            be.upsert_batch(f"{COLLECTION}_v{n}", [{"id": 1}])
        be.set_alias(COLLECTION, f"{COLLECTION}_v{HISTORY_LEN}")
        self.expected = checks.expected_chunks(
            bodies, SPLIT["token_limit"], SPLIT["token_limit_buffer"], SPLIT["token_limit_min"]
        )
        self.yaml = manifest_yaml(self.md_dir, self.root)

    def _compose(self):
        from wurzel_spark.manifest import Manifest, ManifestValidator

        m = Manifest.from_yaml(self.yaml)
        errors = ManifestValidator(m).validate_all([])
        if errors:
            raise ValueError(f"manifest invalid: {errors}")
        return m

    def run_pass(self, tag: str, tracer: Tracer | None = None) -> list[Op]:
        from wurzel_spark.manifest import run_manifest

        self.outputs: dict = {}
        self.written = checks.next_version(self.root, COLLECTION)
        problems: list[str] = []
        t0 = time.perf_counter()
        with job_group(self.sc, tag):
            try:
                if tracer is None:
                    run_manifest(self.spark, self._compose())
                else:
                    with tracer.span("manifest"):
                        m = self._compose()
                    chain = span_chain(tracer, self.sc, self.outputs)
                    with tracer.span("pipeline"):
                        run_manifest(self.spark, m, chain=chain)
            except Exception as e:  # the op failed; count it and go on
                problems.append(f"{type(e).__name__}: {e}")
        latency = time.perf_counter() - t0
        return [Op(self.name, tag, latency, problems=problems)]

    def check(self, op: Op) -> list[str]:
        return checks.check_rag(
            self.root, COLLECTION, self.written, self.expected, DIM, HISTORY_LEN,
            NEAR_DUP_THRESHOLD,
        )

    def lsh_precision(self, embedded) -> float:
        """Verified near-dup pairs over LSH candidate pairs, on the pinned
        embed output of a traced pass (extra jobs, outside every span)."""
        from wurzel_spark.operators.dedup import lsh_candidate_pairs, minhash_banded_signatures

        chunks = steps.with_chunk_id(embedded)
        sigs = minhash_banded_signatures(
            chunks, steps.ID_COL, "text", steps.NUM_HASHES, steps.NGRAM, steps.BANDS
        )
        n_cand = lsh_candidate_pairs(sigs, steps.BANDS, steps.ROWS_PER_BAND).count()
        n_ok = steps.near_dup_pairs(chunks, NEAR_DUP_THRESHOLD).count()
        return n_ok / n_cand if n_cand else 1.0

    def traced_extras(self, tag: str) -> dict[str, float]:
        alias, versions, points, nbytes = checks.read_collection(self.root, COLLECTION)
        with job_group(self.sc, f"{tag}/aux"):
            return {
                "operators.splitter.chunks_out": self.outputs["operators.splitter"].count(),
                "operators.embedding.vectors_out": self.outputs["operators.embedding"].count(),
                "operators.dedup.lsh_precision": self.lsh_precision(
                    self.outputs["operators.embedding"]
                ),
                "sinks.versioned.points_written": len(points),
                "sinks.versioned.bytes_per_point": nbytes / len(points) if points else 0.0,
                "sinks.versioned.versions_retained": len(versions),
            }

    def layer_metrics(self, tracer: Tracer, traced: dict[str, dict]) -> dict[str, float]:
        per_pass: list[dict[str, float]] = []
        for tag, extras in traced.items():
            spans = tracer.in_trace(tag)
            st = self_times(spans)
            by_name = {s.name: st[s.span_id] for s in spans}
            c = {layer: counters(self.sc, f"{tag}/{layer}") for layer in RAG_LAYERS.values()}
            m = {
                "manifest.compose_s": by_name["manifest"],
                "sources.markdown.self_s": by_name["sources.markdown"],
                "sources.markdown.tasks": c["sources.markdown"].tasks,
                "operators.dedup.exact_self_s": by_name["operators.dedup.exact"],
                "operators.dedup.near_self_s": by_name["operators.dedup.near"],
                "operators.dedup.jobs": c["operators.dedup.exact"].jobs
                + c["operators.dedup.near"].jobs,
                "operators.splitter.self_s": by_name["operators.splitter"],
                "operators.splitter.tasks": c["operators.splitter"].tasks,
                "operators.embedding.self_s": by_name["operators.embedding"],
                "operators.embedding.tasks": c["operators.embedding"].tasks,
                "sinks.versioned.self_s": by_name["sinks.versioned"],
                "sinks.versioned.jobs": c["sinks.versioned"].jobs,
            }
            m.update(extras)
            per_pass.append(m)
        return {k: median(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}

    def pass_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {"sources.markdown.input_read_ratio": ops[0].counters.input_bytes / self.folder_bytes}


class Queries(Workload):
    name = "queries"

    def prepare(self) -> None:
        self.sf_dir = datagen.ensure(self.data_root, SF)
        self.expected = checks.load_digests()

    def bind(self, spark) -> None:
        import __spark_entry__

        super().bind(spark)
        registry = __spark_entry__.queries()
        self.fns = {n: registry[n] for n in CURATION + CONTROL}
        self.items_per_pass = len(self.fns)

    def run_pass(self, tag: str, tracer: Tracer | None = None) -> list[Op]:
        names = list(self.fns)
        self.rng.shuffle(names)
        return [self.run_query(f"{tag}/{name}", name, tracer) for name in names]

    def run_query(self, group: str, name: str, tracer: Tracer | None) -> Op:
        fn = self.fns[name]
        problems: list[str] = []
        pdf = None
        t0 = time.perf_counter()
        with job_group(self.sc, group):
            try:
                if tracer is None:
                    pdf = fn(self.spark, self.sf_dir).toPandas()
                else:
                    module = fn.__module__.removeprefix("wurzel_spark.")
                    with tracer.span(f"q.{name}", module=module):
                        with tracer.span("build"):
                            df = fn(self.spark, self.sf_dir)
                        with tracer.span("drain"):
                            pdf = df.toPandas()
            except Exception as e:  # the op failed; count it and go on
                problems.append(f"{name}: {type(e).__name__}: {e}")
        return Op(name, group, time.perf_counter() - t0, result=pdf, problems=problems)

    def check(self, op: Op) -> list[str]:
        return checks.check_digest(op.name, op.result, self.expected)

    def layer_metrics(self, tracer: Tracer, traced: dict[str, dict]) -> dict[str, float]:
        per_pass = []
        for tag in traced:
            spans = tracer.in_trace(tag)
            m: dict[str, float] = {}
            for mod in QUERY_MODULES:
                for k in ("build_s", "exec_s", "jobs"):
                    m[f"{mod}.{k}"] = 0.0
            for s in spans:
                if not s.name.startswith("q."):
                    continue
                name = s.name[2:]
                kids = {c.name: c.duration for c in spans if c.parent == s.span_id}
                jobs = counters(self.sc, f"{tag}/{name}").jobs
                mod = s.attrs["module"]
                build, drain = kids.get("build", 0.0), kids.get("drain", 0.0)
                m[f"{mod}.build_s"] += build
                m[f"{mod}.exec_s"] += drain
                m[f"{mod}.jobs"] += jobs
                if name in CURATION:
                    m[f"q.{name}.build_s"] = build
                    m[f"q.{name}.exec_s"] = drain
                    m[f"q.{name}.jobs"] = jobs
            per_pass.append(m)
        return {k: median(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}


WORKLOADS = {w.name: w for w in (RagIngest, Queries)}
