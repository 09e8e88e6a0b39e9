"""Observability parity with the reference's PrometheusMiddleware
(wurzel/middlewares/prometheus/prometheus.py:70-120) — per-stage gauges

  wurzel_step_input_items / wurzel_step_result_items /
  wurzel_step_duration_seconds / wurzel_step_status /
  wurzel_step_timestamp_seconds / wurzel_step_datacontract_metric

labeled ``(step_name, run_id)`` and pushed to a Prometheus pushgateway.

Spark shape: a StageReport carries rows/seconds per step; the prometheus
middleware (middleware.py) builds one per step the runner executes, and
this module renders them in Prometheus text exposition format and hands the
payload to a pluggable ``push`` callable (HTTP POST to a pushgateway in
production, a file or list in tests). The run_id mirrors WURZEL_RUN_ID
(executors/runtime_context.py): explicit argument > env > Spark application
id — so cron re-runs are distinguishable in the gauge series.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

_GAUGES = (
    "wurzel_step_input_items",
    "wurzel_step_result_items",
    "wurzel_step_duration_seconds",
    "wurzel_step_status",
    "wurzel_step_timestamp_seconds",
)


@dataclass
class StageReport:
    """Parity with wurzel's StepReport (base_executor.py:53-64)."""

    stage: str
    rows_out: int | None
    seconds: float


def resolve_run_id(spark: SparkSession | None = None, run_id: str | None = None) -> str:
    if run_id:
        return run_id
    # WURZEL_SPARK_RUN_ID is what the generated DVC/Argo artifacts
    # export (backends.RUN_ID_ENV) — found in the r12 reference-test
    # mining: resolving only the reference's WURZEL_RUN_ID name meant a
    # container launched from our own artifact never saw its run id.
    # The reference name stays as a compatibility alias.
    env = os.environ.get("WURZEL_SPARK_RUN_ID") or os.environ.get("WURZEL_RUN_ID")
    if env:
        return env
    if spark is not None:
        return spark.sparkContext.applicationId
    return "local"


def _esc(v: str) -> str:
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def render_exposition(
    reports,
    run_id: str,
    now: float | None = None,
    contract_metrics: dict[str, dict[str, float]] | None = None,
) -> str:
    """StageReports → Prometheus text format (e.g. the
    Pipeline.run(with_reports=True) list); rows_out may be None when the
    caller skipped counting (counting costs an action)."""
    ts = now if now is not None else time.time()
    lines: list[str] = []
    for g in _GAUGES:
        lines.append(f"# TYPE {g} gauge")
    for r in reports:
        labels = f'step_name="{_esc(r.stage)}",run_id="{_esc(run_id)}"'
        if r.rows_out is not None:
            lines.append(f"wurzel_step_result_items{{{labels}}} {r.rows_out}")
        lines.append(f"wurzel_step_duration_seconds{{{labels}}} {r.seconds:.6f}")
        lines.append(f"wurzel_step_status{{{labels}}} 1")
        lines.append(f"wurzel_step_timestamp_seconds{{{labels}}} {ts:.3f}")
    for stage, metrics in (contract_metrics or {}).items():
        for metric, value in metrics.items():
            lines.append(
                "wurzel_step_datacontract_metric"
                f'{{step_name="{_esc(stage)}",run_id="{_esc(run_id)}",metric="{_esc(metric)}"}} {value}'
            )
    return "\n".join(lines) + "\n"


def file_pusher(path: str) -> Callable[[str], None]:
    def push(payload: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(payload)

    return push


def http_pusher(
    gateway: str,
    job: str = "wurzel_spark",
    grouping: dict[str, str] | None = None,
    session_factory: Callable[[], object] | None = None,
    swallow_errors: bool = True,
    timeout: float = 10.0,
) -> Callable[[str], None]:
    """PUT the exposition payload to a Prometheus pushgateway — the
    reference's ``push_to_gateway(GATEWAY, job=JOB, registry=...)`` exit
    hook (prometheus/prometheus.py:70-120; settings default gateway
    "localhost:9091", i.e. scheme-less — http:// is prepended, matching
    prometheus_client).

    ``grouping`` adds grouping-key path segments after the job (e.g.
    {"run_id": ...} so concurrent runs don't overwrite each other's
    series). ``session_factory`` is the same fake-transport seam as
    sinks/http_backends: tests inject an object with
    ``.put(url, data=..., headers=..., timeout=...)`` returning an object
    with ``status_code``/``text``. Push failures are logged and swallowed
    by default — the reference treats a dead gateway as a warning, never a
    pipeline failure.
    """
    from urllib.parse import quote

    url = gateway if "://" in gateway else f"http://{gateway}"
    path = f"{url.rstrip('/')}/metrics/job/{quote(job, safe='')}"
    for k, v in (grouping or {}).items():
        path += f"/{quote(k, safe='')}/{quote(v, safe='')}"

    if session_factory is None:
        def session_factory():  # pragma: no cover - needs requests + gateway
            import requests

            return requests.Session()

    def push(payload: str) -> None:
        from logging import getLogger

        try:
            resp = session_factory().put(
                path,
                data=payload.encode("utf-8"),
                headers={"Content-Type": "text/plain; version=0.0.4"},
                timeout=timeout,
            )
            if not (200 <= resp.status_code < 300):
                raise RuntimeError(
                    f"pushgateway HTTP {resp.status_code}: {getattr(resp, 'text', '')[:200]}"
                )
        except Exception:
            if not swallow_errors:
                raise
            getLogger(__name__).warning(
                "Could not push prometheus metrics to gateway", exc_info=True
            )

    return push


def push_reports(
    reports,
    push: Callable[[str], None],
    spark: SparkSession | None = None,
    run_id: str | None = None,
    contract_metrics: dict[str, dict[str, float]] | None = None,
) -> str:
    payload = render_exposition(
        reports, resolve_run_id(spark, run_id), contract_metrics=contract_metrics
    )
    push(payload)
    return payload
