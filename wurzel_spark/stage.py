"""Stage & Pipeline: wurzel's TypedStep/DAG re-expressed as DataFrame
composition (SURVEY §7 guiding decisions).

A Stage is (name, in_contract, out_contract, fn: DataFrame -> DataFrame);
sources take SparkSession instead. Chaining stages just composes functions —
the "DAG" is the Catalyst plan, so there is no scheduler, no per-step
process, no mandatory disk round-trip (SURVEY §3.2: the reference's DVC/Argo
compile step becomes a no-op).

A Pipeline is a linear step graph: ``run`` hands its stages to the one step
runner a manifest runs through (``manifest._run_graph``), which owns the
middleware chain, the step-boundary persist, the per-stage Parquet
materialization (DVC inspectability / incremental re-runs, SURVEY §3.2)
and the StageReports. What survives from the reference's executor:
  - static composition check (typed_step.py:261-275) → contract compatibility
  - dynamic run-time validation (base_executor.py:322-325) → Contract.validate
  - History lineage (core/history.py:16, stamped into sink payloads,
    qdrant/step.py:99) → a literal `history` column, '-'-joined stage names
  - per-stage reports {inputs, results, time} (base_executor.py:348-362)
    → StageReport, built by the prometheus middleware
  - deterministic output ordering before persist (base_executor.py:67-87)
    → Pipeline.save → manifest.save_sorted
"""

from __future__ import annotations

import hashlib
import inspect
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.contracts import Contract, StaticTypeError
from wurzel_spark.manifest import Manifest, ManifestError, StepSpec, _run_graph, save_sorted
from wurzel_spark.metrics import StageReport
from wurzel_spark.middleware import MiddlewareChain, prometheus


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    in_contract: Contract | None = None
    out_contract: Contract | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        if self.in_contract is not None:
            self.in_contract.validate(df)
        out = self.fn(df)
        if self.out_contract is not None:
            self.out_contract.validate(out)
        return out


@dataclass
class Pipeline:
    """A source plus an ordered list of stages.

    ``>>`` appends a stage (wurzel's WZ(StepA) >> WZ(StepB), core/step.py:47-52)
    with the static contract check at composition time.
    """

    source: Callable[[SparkSession], DataFrame]
    stages: list[Stage] = field(default_factory=list)
    reports: list[StageReport] = field(default_factory=list)

    def __rshift__(self, stage: Stage) -> "Pipeline":
        if (
            self.stages
            and self.stages[-1].out_contract is not None
            and stage.in_contract is not None
            and not self.stages[-1].out_contract.is_compatible_with(stage.in_contract)
            and not stage.in_contract.is_compatible_with(self.stages[-1].out_contract)
        ):
            raise StaticTypeError(
                f"cannot chain {self.stages[-1].name} "
                f"({self.stages[-1].out_contract.name}) into {stage.name} "
                f"({stage.in_contract.name})"
            )
        return Pipeline(self.source, [*self.stages, stage], self.reports)

    def history(self) -> str:
        """Lineage string: '-'-joined stage names (core/history.py:16)."""
        return "-".join(s.name for s in self.stages)

    def _steps(self, cache_fingerprint: str) -> tuple[Manifest, dict[str, str]]:
        """The stages as a linear step graph (the first stage reads the
        source), with each stage's incremental cache key.

        Cache key chain: upstream key + stage name + stage fn source.
        Mirrors DVC's dependency checksums (SURVEY §4: stage deps = upstream
        outputs + step source file) — editing a stage's code invalidates its
        cache and everything downstream."""
        steps: dict[str, StepSpec] = {}
        keys: dict[str, str] = {}
        key, prev = f"src|{cache_fingerprint}", None
        for st in self.stages:
            if st.name in steps:
                raise ManifestError(f"duplicate stage name '{st.name}'")

            def run(spark, inputs, st=st):
                return st(inputs[0] if inputs else self.source(spark))

            try:
                src = inspect.getsource(st.fn)
            except (OSError, TypeError):  # builtins / C callables / REPL lambdas
                src = st.name
            key = keys[st.name] = hashlib.sha256(f"{key}|{st.name}|{src}".encode()).hexdigest()
            steps[st.name] = StepSpec(st.name, run, [prev] if prev else [])
            prev = st.name
        return Manifest(self.history(), steps), keys

    def run(
        self,
        spark: SparkSession,
        materialize_dir: str | None = None,
        with_reports: bool = False,
        incremental: bool = False,
        cache_fingerprint: str = "",
    ) -> DataFrame:
        """Compose all stages into one Catalyst plan.

        Each stage's output is persisted at its step boundary while the next
        stage runs, so a stage's actions (a contract's validation, a report
        count) read it from the cache instead of replaying every upstream
        stage from the source. With ``with_reports`` each stage appends a
        counted StageReport to ``self.reports``.

        With ``materialize_dir``, each stage's output is persisted to
        Parquet and re-read (wurzel's per-step artifact dirs / DVC stage
        cache) — inspectable and incrementally re-runnable, at the cost of
        breaking plan fusion.

        With ``incremental=True`` (requires ``materialize_dir``), a stage
        whose stored cache key matches is NOT recomputed — its Parquet
        output is read back instead, and computation resumes at the first
        stage whose key changed. This is the reference's cross-run DVC
        memoization (backend_dvc.py:182-237) without the per-step process
        model. ``cache_fingerprint`` should identify the source inputs
        (e.g. a content/snapshot hash); leaves with always-fresh inputs can
        pass a changing fingerprint (DVC's ``always_changed``).
        """
        if not self.stages:
            return self.source(spark).withColumn("history", F.lit(""))
        graph, keys = self._steps(cache_fingerprint)
        chain = MiddlewareChain([prometheus(count_rows=True)] if with_reports else [])
        (df,) = _run_graph(
            spark,
            graph,
            materialize_dir,
            chain,
            keys if incremental and materialize_dir else None,
            self.reports if with_reports else None,
        ).values()
        return df.withColumn("history", F.lit(self.history()))

    def save(self, df: DataFrame, path: str, fmt: str = "parquet") -> None:
        """Deterministic persist (:func:`manifest.save_sorted`)."""
        save_sorted(df, path, fmt)


def self_consuming_source(
    read_input: Callable[[SparkSession], DataFrame | None],
    own_output_path: str,
) -> Callable[[SparkSession], DataFrame]:
    """SelfConsumingLeafStep parity (wurzel/executors/self_consuming_step.py
    :12-27, base_executor.py:290-297): a leaf that, when its external input
    is unavailable or empty, re-reads its OWN previous persisted output —
    the reference uses this for sources whose upstream is flaky (keep
    serving yesterday's corpus rather than emptying the knowledge base).

    ``read_input`` returns None (or raises) when no fresh input exists.
    """

    def src(spark: SparkSession) -> DataFrame:
        try:
            df = read_input(spark)
        except Exception:  # noqa: BLE001 - unavailable input falls back
            df = None
        if df is not None and len(df.take(1)) > 0:
            return df
        return spark.read.parquet(own_output_path)

    return src
