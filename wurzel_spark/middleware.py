"""Middleware chain around step execution (reference parity, SURVEY §3.4).

Reference shape:
  - MiddlewareChain wraps execute_step chain-of-responsibility style
    (wurzel/middlewares/base.py:45-160): each middleware receives the call
    context plus a ``call_next`` continuation.
  - Registry with builtins ``prometheus`` and ``secret_resolver``
    (middlewares/__init__.py:30-146); the ``MIDDLEWARES`` env var selects
    which are active (:103-107).
  - PrometheusMiddleware pushes per-step gauges labeled (step_name, run_id)
    (middlewares/prometheus/prometheus.py:70-120) — rendering lives in
    wurzel_spark.metrics.
  - secret_resolver replaces ``${secret:name}`` placeholders in step
    settings before the step runs (manifest/secrets/placeholder.py,
    middlewares/secret_resolver/secret_resolver.py). Sources: env var
    ``WURZEL_SECRET_<NAME>`` first, then ``<secrets_dir>/<name>`` files
    (docker/k8s mounted-secret convention); unresolvable placeholders fail
    the step up front, not mid-write.

Everything here is driver-side control flow — no Spark actions are added
unless a middleware explicitly asks for a count. The one step runner
(``manifest._run_step``) calls the chain for every step of a manifest and
every stage of a ``Pipeline``.
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from wurzel_spark import metrics as M

SECRET_RE = re.compile(r"\$\{secret:([A-Za-z0-9_.-]+)\}")


@dataclass
class StepContext:
    """What a middleware sees: the step being run and its (mutable) settings."""

    step_name: str
    settings: dict
    run_id: str = "local"
    report: dict = field(default_factory=dict)  # middlewares stash outputs here
    # the runner persists the output at its step boundary (manifest._run_graph)
    boundary: bool = False


# middleware(ctx, call_next) -> result;  call_next(ctx) runs the rest of the chain
Middleware = Callable[[StepContext, Callable[[StepContext], Any]], Any]


class MiddlewareChain:
    def __init__(self, middlewares: list[Middleware]):
        self.middlewares = list(middlewares)

    def execute(self, ctx: StepContext, step_fn: Callable[[StepContext], Any]) -> Any:
        def build(i: int) -> Callable[[StepContext], Any]:
            if i == len(self.middlewares):
                return step_fn
            mw, nxt = self.middlewares[i], build(i + 1)
            return lambda c: mw(c, nxt)

        return build(0)(ctx)


# ----------------------------------------------------------------- builtins

class MiddlewareError(ValueError):
    """Unknown middleware name / malformed chain configuration."""


class SecretResolverError(ValueError):
    pass


def env_file_secret_source(secrets_dir: str = "/run/secrets") -> Callable[[str], str]:
    """Default lookup: WURZEL_SECRET_<NAME> env var, else <secrets_dir>/<name>."""

    def lookup(name: str) -> str:
        env_key = "WURZEL_SECRET_" + re.sub(r"[^A-Za-z0-9]", "_", name).upper()
        if env_key in os.environ:
            return os.environ[env_key]
        path = os.path.join(secrets_dir, name)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                return f.read().strip()
        raise SecretResolverError(
            f"unresolved secret '{name}' (no ${env_key}, no {path})"
        )

    return lookup


def secret_resolver(
    lookup: Callable[[str], str] | None = None,
) -> Middleware:
    """Resolve ``${secret:name}`` placeholders in string settings values."""
    resolve = lookup or env_file_secret_source()

    def substitute(value: Any) -> Any:
        if isinstance(value, str):
            return SECRET_RE.sub(lambda m: resolve(m.group(1)), value)
        if isinstance(value, dict):
            return {k: substitute(v) for k, v in value.items()}
        if isinstance(value, list):
            return [substitute(v) for v in value]
        return value

    def mw(ctx: StepContext, call_next):
        ctx.settings = substitute(ctx.settings)
        return call_next(ctx)

    return mw


def prometheus(
    push: Callable[[str], None] | None = None,
    count_rows: bool = False,
) -> Middleware:
    """Time the step, build its :class:`~wurzel_spark.metrics.StageReport`
    (``ctx.report["stage_report"]``) and push per-step gauges
    (prometheus.py:70-120).

    ``count_rows`` is off by default because counting a lazy DataFrame costs
    an extra action; turn it on only where the report is worth a job. The
    count is part of the step's time. At a step boundary the output is
    persisted first (``report["persisted"]``), so the count fills the cache
    the next step reads instead of computing the step once more.
    """

    def mw(ctx: StepContext, call_next):
        t0 = time.time()
        try:
            result = call_next(ctx)
        except Exception:
            seconds = time.time() - t0
            ctx.report.update(seconds=seconds, rows_out=None, status=0)
            if push is not None:
                labels = f'step_name="{ctx.step_name}",run_id="{ctx.run_id}"'
                push(
                    f"wurzel_step_status{{{labels}}} 0\n"
                    f"wurzel_step_duration_seconds{{{labels}}} {seconds:.6f}\n"
                )
            raise
        rows = None
        if count_rows and isinstance(result, DataFrame):
            if ctx.boundary and not result.is_cached:
                result.persist(StorageLevel.MEMORY_AND_DISK)
                ctx.report["persisted"] = True
            try:
                rows = result.count()
            except Exception:
                if ctx.report.get("persisted"):
                    result.unpersist()
                raise
        report = M.StageReport(ctx.step_name, rows, time.time() - t0)
        ctx.report.update(
            seconds=report.seconds, rows_out=rows, status=1, stage_report=report
        )
        if push is not None:
            push(M.render_exposition([report], ctx.run_id))
        return result

    return mw


MIDDLEWARE_REGISTRY: dict[str, Callable[[], Middleware]] = {
    "secret_resolver": secret_resolver,
    "prometheus": prometheus,
}


def chain_from_env(env_value: str | None = None) -> MiddlewareChain:
    """Build the chain the MIDDLEWARES env var asks for
    (middlewares/__init__.py:103-107). Unknown names fail loudly."""
    raw = env_value if env_value is not None else os.environ.get("MIDDLEWARES", "")
    names = [n.strip() for n in raw.split(",") if n.strip()]
    mws = []
    for n in names:
        if n not in MIDDLEWARE_REGISTRY:
            raise MiddlewareError(
                f"unknown middleware '{n}' (registry: {sorted(MIDDLEWARE_REGISTRY)})"
            )
        mws.append(MIDDLEWARE_REGISTRY[n]())
    return MiddlewareChain(mws)
