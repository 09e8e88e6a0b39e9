"""Pipeline manifests: YAML → validated step graph → one Spark application.

Reference parity (SURVEY §3.3):
  - PipelineManifest model (wurzel/manifest/models.py:135-141; steps with
    class/dependsOn/settings :57-64)
  - ManifestValidator: dangling dependsOn refs (manifest/validator.py:49-57)
    and cycle detection via DFS coloring (:59+)
  - ManifestBuilder: import each step, wire parent >> child
    (manifest/builder.py:72-89), find terminal steps (:91-100)
  - env-var settings override: {STEPNAME_UPPER}__{FIELD}
    (core/settings.py:44, manifest/generator.py:27-46)

The crucial difference (SURVEY §3.2): generate_artifact compiles to
*nothing*. Where the reference emits dvc.yaml / Argo workflows that re-enter
the CLI once per step (one process/pod per step, data via files/S3), here
all steps run in one Spark application and hand each other DataFrames.
Like the reference executor, each step's output is computed once:
``run_manifest`` persists every non-terminal DataFrame output at its step
boundary and unpersists it once all its consumers have run. Without that,
every action a multi-action consumer takes (a near-dup step's checkpoints,
a sink's count and upload) would replay the whole upstream chain — source
read and every UDF — from the input. ``materialize_dir`` swaps the
in-memory boundary for a Parquet round-trip per step.

Manifest format:

    pipeline:
      name: demo
      schedule: "0 3 * * *"     # informational — external scheduler
    steps:
      source:
        uses: markdown_source    # registry name OR "module:callable"
        settings: {path: /data/md, url_prefix: "kb:"}
      dedup:
        uses: dedup
        dependsOn: [source]
      split:
        uses: split
        dependsOn: [dedup]
"""

from __future__ import annotations

import importlib
import os
from collections import Counter
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd  # module-level: pandas_udf type hints resolve via globals
import yaml

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class ManifestError(ValueError):
    pass


@dataclass
class StepSpec:
    """One step: ``uses`` names a registry entry or "module:callable"; a
    ``Pipeline`` passes its stage callables directly."""

    name: str
    uses: str | Callable
    depends_on: list[str] = field(default_factory=list)
    settings: dict = field(default_factory=dict)


@dataclass
class Manifest:
    name: str
    steps: dict[str, StepSpec]
    schedule: str | None = None

    @classmethod
    def from_yaml(cls, text: str) -> "Manifest":
        m = cls._parse(text)
        m.validate()
        return m

    @classmethod
    def _parse(cls, text: str) -> "Manifest":
        """The step graph as written, before any semantic check (a missing
        ``uses`` parses as ""); ``validate`` does the fail-fast checks,
        ``ManifestValidator`` reports every problem."""
        data = yaml.safe_load(text)
        if not isinstance(data, dict) or not isinstance(data.get("steps"), dict):
            raise ManifestError("manifest needs a 'steps' mapping")
        pipe = data.get("pipeline") or {}
        steps = {}
        for name, spec in data["steps"].items():
            spec = spec or {}
            steps[name] = StepSpec(
                name=name,
                uses=str(spec.get("uses", "")),
                depends_on=list(spec.get("dependsOn") or []),
                settings=dict(spec.get("settings") or {}),
            )
        return cls(name=pipe.get("name", "pipeline"), steps=steps, schedule=pipe.get("schedule"))

    @classmethod
    def from_file(cls, path: str) -> "Manifest":
        with open(path) as f:
            return cls.from_yaml(f.read())

    def validate(self) -> None:
        """Fail-fast structural check: raises the first missing ``uses``,
        dangling ref or cycle that :class:`ManifestValidator` finds."""
        v = ManifestValidator(self)
        errors = [
            *(f"step '{n}' missing 'uses'" for n, s in self.steps.items() if not s.uses),
            *v.validate_step_refs(),
            *v.validate_no_cycles(),
        ]
        if errors:
            raise ManifestError(errors[0])

    def topo_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()

        def visit(n: str) -> None:
            if n in seen:
                return
            seen.add(n)
            for dep in self.steps[n].depends_on:
                visit(dep)
            order.append(n)

        for n in sorted(self.steps):
            visit(n)
        return order

    def terminals(self) -> list[str]:
        """Steps nothing depends on (builder.py:91-100)."""
        referenced = {d for s in self.steps.values() for d in s.depends_on}
        return [n for n in self.steps if n not in referenced]

    def env_settings(self, step: str) -> dict:
        """Merge manifest settings with {STEP}__{FIELD} env overrides
        (core/settings.py:44; env wins, as in pydantic-settings).

        Env values arrive as STRINGS (generate_argo exports every setting
        with str()); the reference relies on pydantic-settings to coerce
        them back to the field type. Parity here (ADVICE r6): each
        override is coerced against the type of the manifest value it
        replaces, so a step function receives identical kwargs whether
        the manifest runs locally (native int/bool/list) or re-enters
        under Argo (env strings).

        Nested settings use the reference's ``__`` delimiter
        (core/settings.py:42 env_nested_delimiter): when a setting's
        manifest value is a dict, ``{STEP}__{OUTER}__{INNER}`` descends
        into it instead of creating a flat ``outer__inner`` key, with
        each level copied so the manifest defaults stay unmutated."""
        spec = self.steps[step]
        merged = dict(spec.settings)
        prefix = f"{step.upper()}__"
        for k, v in os.environ.items():
            if not k.startswith(prefix):
                continue
            path = k[len(prefix):].lower().split("__")
            node = merged
            while len(path) > 1 and isinstance(node.get(path[0]), dict):
                node[path[0]] = dict(node[path[0]])  # copy-on-write per level
                node = node[path[0]]
                path = path[1:]
            field = "__".join(path)
            node[field] = _coerce_env(v, node.get(field))
        return merged


class ManifestValidator:
    """Non-raising semantic validation (reference
    wurzel/manifest/validator.py): every check returns a list of
    human-readable error strings — an empty list means clean — and
    ``validate_all`` aggregates them so a user sees EVERY problem in one
    pass instead of fixing them raise-by-raise. ``Manifest.validate``
    (raising, used at parse time) raises the first error of the
    structural subset."""

    def __init__(self, manifest: "Manifest") -> None:
        self._m = manifest

    def validate_step_refs(self) -> list[str]:
        """Errors for any dependsOn naming an undefined step
        (validator.py:50-58)."""
        errors: list[str] = []
        for s in self._m.steps.values():
            for dep in s.depends_on:
                if dep not in self._m.steps:
                    errors.append(f"Step '{s.name}' dependsOn unknown step '{dep}'")
        return errors

    def validate_no_cycles(self) -> list[str]:
        """Errors for dependency cycles, including self-references;
        undefined refs are SKIPPED here (validator.py:60-90 line-47
        continue) — validate_step_refs reports those separately."""
        WHITE, GRAY, BLACK = 0, 1, 2
        color = {n: WHITE for n in self._m.steps}
        errors: list[str] = []

        def dfs(n: str, path: list[str]) -> None:
            color[n] = GRAY
            for dep in self._m.steps[n].depends_on:
                if dep not in self._m.steps:
                    continue
                if color[dep] == GRAY:
                    errors.append(f"Dependency cycle: {' -> '.join([*path, n, dep])}")
                elif color[dep] == WHITE:
                    dfs(dep, [*path, n])
            color[n] = BLACK

        for n in self._m.steps:
            if color[n] == WHITE:
                dfs(n, [])
        return errors

    def validate_uses(self) -> list[str]:
        """Errors for any step ``uses`` that neither names a registry
        entry nor imports as 'module:callable' (the analog of the
        reference's validate_class_paths, validator.py:92-110)."""
        errors: list[str] = []
        for s in self._m.steps.values():
            try:
                _resolve(s.uses)
            except (ManifestError, ImportError, AttributeError) as exc:
                errors.append(f"Step '{s.name}': cannot resolve '{s.uses}': {exc}")
        return errors

    def validate_middleware_names(self, middlewares: list[str] | None = None) -> list[str]:
        """Errors for middleware names absent from the registry
        (validator.py:112-124). Checks the given names, or the
        MIDDLEWARES env selection the run would use."""
        from wurzel_spark.middleware import MIDDLEWARE_REGISTRY

        names = middlewares
        if names is None:
            names = [
                n.strip()
                for n in os.environ.get("MIDDLEWARES", "").split(",")
                if n.strip()
            ]
        return [
            f"Middleware '{n}' is not registered "
            f"(registry: {sorted(MIDDLEWARE_REGISTRY)})."
            for n in names
            if n not in MIDDLEWARE_REGISTRY
        ]

    def validate_all(self, middlewares: list[str] | None = None) -> list[str]:
        """Every check's errors, aggregated (validator.py:126-137)."""
        return [
            *self.validate_step_refs(),
            *self.validate_no_cycles(),
            *self.validate_uses(),
            *self.validate_middleware_names(middlewares),
        ]


def _coerce_env(raw: str, current) -> object:
    """Coerce an env-override string to the type of the manifest value it
    replaces (pydantic-settings' env parsing, the subset the reference's
    Settings fields use: bool/int/float/str + JSON for list/dict). A
    value that does not parse raises — a typo'd numeric override must
    fail the run, not silently ship the string into a step."""
    if current is None or isinstance(current, str):
        return raw
    if isinstance(current, bool):  # before int: bool is an int subclass
        low = raw.strip().lower()
        if low in ("1", "true", "yes", "on"):
            return True
        if low in ("0", "false", "no", "off"):
            return False
        raise ManifestError(f"env override {raw!r} is not a boolean")
    if isinstance(current, int):
        return int(raw)
    if isinstance(current, float):
        return float(raw)
    if isinstance(current, (list, dict)):
        import json

        parsed = json.loads(raw)
        if not isinstance(parsed, type(current)):
            raise ManifestError(
                f"env override {raw!r} parsed to {type(parsed).__name__}, "
                f"expected {type(current).__name__}"
            )
        return parsed
    return raw


# ------------------------------------------------------------ step registry

def _resolve(uses: str | Callable):
    """'module:callable' import or registry lookup (cli/_main.py:89-121);
    a callable is its own step."""
    if callable(uses):
        return uses
    if ":" in uses:
        mod, attr = uses.split(":", 1)
        return getattr(importlib.import_module(mod), attr)
    if uses in REGISTRY:
        return REGISTRY[uses]
    raise ManifestError(f"unknown step '{uses}' (registry: {sorted(REGISTRY)})")


def _markdown_source(spark: SparkSession, inputs, *, path: str, url_prefix: str = ""):
    from wurzel_spark.sources.markdown import read_markdown_folder

    return read_markdown_folder(spark, path, url_prefix)


def _dedup(spark, inputs, *, fields: str = "md", order_by: str = ""):
    """duplication.py:21-51 incl. '*' mode — DETERMINISTIC: first row per
    key group under ``order_by`` (default: first non-key column, else the
    key itself). dropDuplicates keeps an arbitrary row per group, which
    flips run-to-run under retries/AQE and would break the repo's
    repeatability contract."""
    from wurzel_spark.operators.dedup import exact_dedup

    (df,) = inputs
    keys = df.columns if fields == "*" else [f.strip() for f in fields.split(",")]
    order_col = order_by or next((c for c in df.columns if c not in keys), keys[0])
    return exact_dedup(df, keys, order_col)


def _split(spark, inputs, *, token_limit: int = 256, token_limit_buffer: int = 32, token_limit_min: int = 64):
    from wurzel_spark.operators.splitter import split_stage

    (df,) = inputs
    return split_stage(df, int(token_limit), int(token_limit_buffer), int(token_limit_min))


def _embed(spark, inputs, *, dim: int = 64, prefix: str = ""):
    from wurzel_spark.operators.embedding import embed_stage

    (df,) = inputs
    return embed_stage(df, dim=int(dim), prefix=prefix)


def _union(spark, inputs):
    """Multi-input union (executor feeds inputs separately; SURVEY §2.3)."""
    from functools import reduce

    return reduce(DataFrame.unionByName, inputs)


def save_sorted(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Deterministic persist: sort by the first column, then overwrite
    ``path`` (the reference's output-sorting contract,
    base_executor.py:67-87), so artifacts are content-hash comparable
    across runs. ``parquet_sink``, ``Pipeline.save`` and ``run --out``
    all write through it."""
    df.orderBy(df.columns[0]).write.mode("overwrite").format(fmt).save(path)


def _parquet_sink(spark, inputs, *, path: str):
    (df,) = inputs
    save_sorted(df, path)
    return df


def _scrape_source(spark, inputs, *, urls_path: str):
    """URL list (one per line) → scraped MarkdownDataContract rows."""
    from pyspark.sql import functions as F

    from wurzel_spark.sources.scraper import scrape_stage

    urls = spark.read.text(urls_path).select(F.trim("value").alias("url")).filter(
        F.col("url") != ""
    )
    return scrape_stage(urls)


def _docling_source(spark, inputs, *, path: str, glob: str = "*"):
    from wurzel_spark.sources.docling import convert_stage, read_binary_docs

    return convert_stage(read_binary_docs(spark, path, glob))


def _clean_md(spark, inputs, *, strip_images: str = "true"):
    """md cleanup: URL → LINK replacement, optional image removal (§2.8)."""
    from pyspark.sql import functions as F

    from wurzel_spark.functions import text as TXT
    from wurzel_spark.functions.html import md_remove_images

    (df,) = inputs
    out = df.withColumn("md", TXT.replace_urls(F.col("md")))
    if strip_images.lower() == "true":
        out = out.withColumn("md", md_remove_images(F.col("md")))
    return out


def _truncate(spark, inputs, *, token_limit: int = 256):
    """Token-window truncation of md (TruncatedEmbeddingStep's first half)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wurzel_spark.functions import tokens as TK

    (df,) = inputs
    limit = int(token_limit)

    @F.pandas_udf(T.StringType())
    def _trunc(s: pd.Series) -> pd.Series:
        return s.map(lambda t: TK.limit_token_count(t or "", limit))

    return df.withColumn("md", _trunc("md"))


def _embed_multivector(spark, inputs, *, dim: int = 64):
    from wurzel_spark.operators.embedding import embed_multivector_stage

    (df,) = inputs
    return embed_multivector_stage(df, dim=int(dim))


def _doc_metrics(spark, inputs):
    from wurzel_spark.sources.markdown import doc_metrics

    (df,) = inputs
    return doc_metrics(df)


def _snapshot_sink(spark, inputs, *, root: str, timestamp: str, history: str = ""):
    from wurzel_spark.sinks.snapshot import write_snapshot

    (df,) = inputs
    write_snapshot(df, root, timestamp, history=history)
    return df


REGISTRY = {
    "markdown_source": _markdown_source,
    "scrape_source": _scrape_source,
    "docling_source": _docling_source,
    "dedup": _dedup,
    "clean_md": _clean_md,
    "truncate": _truncate,
    "split": _split,
    "embed": _embed,
    "embed_multivector": _embed_multivector,
    "doc_metrics": _doc_metrics,
    "union": _union,
    "parquet_sink": _parquet_sink,
    "snapshot_sink": _snapshot_sink,
}


@contextmanager
def step_env_encapsulation(settings: dict):
    """Virtual env for one step (executors/base_executor.py:107-144):
    the step's RESOLVED settings are exported as plain (unprefixed) env
    vars for the step's duration — libraries the step calls read their
    usual variable names — and the previous environment is restored
    afterwards, so one step's settings can never leak into the next.
    Container values are JSON-encoded, everything else str()'d."""
    import json

    old = os.environ.copy()
    try:
        for k, v in settings.items():
            os.environ[k] = (
                json.dumps(v) if isinstance(v, (list, dict, tuple, set)) else str(v)
            )
        yield
    finally:
        os.environ.clear()
        os.environ.update(old)


def _run_step(spark, manifest, name, inputs, chain=None, materialize_dir=None,
              key=None, encapsulate=True, boundary=False):
    """Run one step through the middleware chain (SURVEY §3.4) and return
    ``(output, ctx.report)`` — the one step runner behind ``run_manifest``,
    ``run_single_step`` and ``Pipeline.run``.

    Secrets resolve before the fn sees its settings; prometheus times the
    step and builds its StageReport; settings are env-encapsulated for the
    step's duration (skippable via ``encapsulate=False`` — the reference's
    ``dont_encapsulate`` / DVC ``encapsulateEnv: false`` knob,
    backend_dvc.py:64-69). With ``materialize_dir`` a DataFrame output is
    written to ``<dir>/<name>`` as Parquet and read back. ``key`` (a
    Pipeline's incremental cache key, DVC's dependency checksum) is stored
    beside it; when the stored key already matches, the step does not run
    at all: its stored output is read and nothing is written, and the step
    reports as ``"<name> (cached)"``. ``boundary`` tells the chain that
    the caller persists the output at its step boundary."""
    from wurzel_spark.metrics import resolve_run_id
    from wurzel_spark.middleware import StepContext, chain_from_env

    fn = _resolve(manifest.steps[name].uses)
    path = None if materialize_dir is None else os.path.join(materialize_dir, name)
    # Spark readers skip the "_"-prefixed key file in the output dir
    keyfile = Path(path or ".", "_wurzel_cache_key")
    hit = key is not None and keyfile.is_file() and keyfile.read_text().strip() == key
    chain = chain if chain is not None else chain_from_env()
    ctx = StepContext(
        step_name=f"{name} (cached)" if hit else name,
        settings=manifest.env_settings(name),
        run_id=resolve_run_id(spark),
        boundary=boundary,
    )

    def _run(c):
        if hit:
            return spark.read.parquet(path)
        with step_env_encapsulation(c.settings) if encapsulate else nullcontext():
            out = fn(spark, inputs, **c.settings)
        if path is None or not isinstance(out, DataFrame):
            return out
        out.write.mode("overwrite").parquet(path)
        if key is not None:
            keyfile.write_text(key)
        return spark.read.parquet(path)

    return chain.execute(ctx, _run), ctx.report


def _cache_filled(df) -> bool:
    """Whether ``df`` is a cached DataFrame whose cache holds all its
    partitions, i.e. an action has read it since it was persisted."""
    if not isinstance(df, DataFrame) or not df.is_cached:
        return False
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    entry = cm.lookupCachedData(df._jdf)
    return entry.isDefined() and (
        entry.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


def run_manifest(
    spark: SparkSession,
    manifest: Manifest,
    materialize_dir: str | None = None,
    chain=None,
) -> dict[str, DataFrame]:
    """Execute the step graph; returns terminal outputs."""
    return _run_graph(spark, manifest, materialize_dir, chain)


def _run_graph(spark, manifest, materialize_dir=None, chain=None, keys=None, reports=None):
    """Run every step of ``manifest`` in dependency order through
    :func:`_run_step`; returns the terminal outputs. ``keys`` maps step
    names to incremental cache keys; each step's StageReport (built by a
    prometheus middleware in ``chain``) is appended to ``reports``.

    Step-boundary rule: a non-terminal step's DataFrame output is
    persisted (MEMORY_AND_DISK, lineage kept, so a lost executor only
    recomputes its blocks), and the first action that reads it fills the
    cache. A consumer that takes many actions (the near-dup step's
    checkpoints, a sink's sample, count and upload) thus runs the
    upstream steps once, not once per action. A step that has read its
    cached inputs gets its own output counted at once, while those
    inputs are still cached; filled later, it would recompute them. A
    middleware that counts rows persists the output itself, so its count
    fills the cache. A
    cached output is unpersisted as soon as no step still to run needs
    it, so at most the live frontier of the graph stays cached, and
    nothing stays cached when the run returns or raises. A chain of lazy
    steps therefore fills no cache and runs no job here. Frames are
    tracked by identity: a step that returns its input (``parquet_sink``)
    shares that input's cache entry. Terminal outputs come back lazy;
    non-DataFrame outputs (a sink's version name) pass through as is.
    With ``materialize_dir`` each output is written there as Parquet and
    read back instead.
    """
    outputs: dict[str, DataFrame] = {}
    # consumers not yet run, per step
    waiting = Counter(d for s in manifest.steps.values() for d in s.depends_on)
    cached: list[DataFrame] = []  # frames this run persisted
    try:
        for name in manifest.topo_order():
            spec = manifest.steps[name]
            inputs = [outputs[d] for d in spec.depends_on]
            boundary = materialize_dir is None and waiting[name] > 0
            df, report = _run_step(
                spark, manifest, name, inputs, chain, materialize_dir, (keys or {}).get(name),
                boundary=boundary,
            )
            if reports is not None and "stage_report" in report:
                reports.append(report["stage_report"])
            if report.get("persisted"):  # a counting middleware filled it
                cached.append(df)
            elif boundary and isinstance(df, DataFrame) and not df.is_cached:
                df.persist(StorageLevel.MEMORY_AND_DISK)
                cached.append(df)
                if any(_cache_filled(i) for i in inputs):
                    df.count()  # fill it while the inputs are still cached
            outputs[name] = df
            for d in spec.depends_on:
                waiting[d] -= 1
            live = [o for n, o in outputs.items() if waiting[n]]
            for c in [c for c in cached if not any(c is o for o in live)]:
                c.unpersist()
                cached.remove(c)
        return {t: outputs[t] for t in manifest.terminals()}
    finally:
        for c in cached:
            c.unpersist()


def run_single_step(
    spark: SparkSession,
    manifest: Manifest,
    step: str,
    materialize_dir: str,
    encapsulate: bool = True,
) -> DataFrame:
    """Single-step re-entry for generated backend artifacts (SURVEY §3.2).

    The DVC/Argo artifacts from wurzel_spark.backends run each step in its
    own process (the reference's execution model, base_executor.py:302-309):
    parent outputs are read back from their materialization dirs, only this
    step's fn runs, and its result is written to its own dir for children.
    """
    inputs = [
        spark.read.parquet(os.path.join(materialize_dir, d))
        for d in manifest.steps[step].depends_on
    ]
    return _run_step(
        spark, manifest, step, inputs, materialize_dir=materialize_dir, encapsulate=encapsulate
    )[0]
