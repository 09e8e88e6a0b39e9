"""Backend artifact generation: manifest -> dvc.yaml / Argo Workflow YAML.

Reference parity (SURVEY §3.2/§3.3):
  - DVC backend (wurzel/backend/backend_dvc.py): one dvc.yaml stage per
    step plus a ``generate_run_id`` stage; each step ``cmd`` sources the
    run id, optionally sources a generated env file, and re-enters the
    CLI for that single step; ``deps`` are the manifest file, the run-id
    output, and the parent steps' output dirs (DVC checksums them and
    skips unchanged stages); ``outs`` is the step's own dir;
    ``always_changed`` mirrors ``step.is_leaf()`` (backend_dvc.py:219).
  - Argo backend (wurzel/backend/backend_argo.py): a Workflow (or
    CronWorkflow when schedules are configured) with a DAG template, one
    task per step, ``dependencies`` wired from the manifest edges; every
    task template carries the container config (env, envFrom, secret
    mounts, tokenizer cache, security contexts, resources), S3 artifact
    wiring keyed by ``{{workflow.name}}``, and the retry strategy
    (limit 4, OnError).
  - Both backends load Helm-like values files through the shared
    ``load_values``/``deep_merge_dicts`` machinery (values.py) into
    typed configs, selected by workflow/pipeline name with
    first-entry/default fallbacks (backend_argo.py:213-223,
    backend_dvc.py:78-90).

The generated cmds use ``python -m wurzel_spark run <manifest> --only
<step> --materialize-dir <data_dir>`` — the single-step re-entry the
reference's executors rely on (base_executor.py:302-309). In Spark the
whole graph can also run in one Spark application (``run`` without
``--only``); the generated artifact is for environments that want DVC's
cross-run memoization or Argo's pod-per-step isolation.

Pinned divergences from the reference (each tested in
tests/test_backends_ref.py):
  - step identity is the MANIFEST step name (already lowercase by
    convention), not a Python class name — the reference lowercases
    class names for task/artifact names; ours are stable as-is.
  - artifact ``path`` is ``str(dataDir / step)`` verbatim; the reference
    calls ``.absolute()``, which makes generation cwd-dependent for
    relative dataDirs — we keep the artifact deterministic.
  - the run-id env var is WURZEL_SPARK_RUN_ID (reference:
    WURZEL_RUN_ID, runtime_context.py).
  - no ``-e <Executor>`` CLI flag: executor selection is a
    reference-internal concept; the Spark re-entry has one executor.

Output is deterministic (insertion-ordered dicts, sorted step iteration
via ``Manifest.topo_order``) so golden-artifact tests can assert
structure, as the reference does (tests/backend/test_backend_dvc.py,
test_backend_argo.py).
"""

from __future__ import annotations

import os
import re
import shlex
from pathlib import Path
from typing import Any, Literal

import yaml
from pydantic import BaseModel, Field, model_validator

from wurzel_spark.manifest import Manifest
from wurzel_spark.values import load_values

#: env var carrying the pipeline run id into every step container — the
#: reference injects WURZEL_RUN_ID={{workflow.uid}} (backend_argo.py:550)
RUN_ID_ENV = "WURZEL_SPARK_RUN_ID"


# ---------------------------------------------------------------------------
# Values schema (backend_argo.py:71-223, backend_dvc.py:46-90)
# ---------------------------------------------------------------------------


class SecretMapping(BaseModel):
    """Mapping entry for mounting a secret key to a target file name."""

    key: str
    value: str


class SecretMount(BaseModel):
    """How a secret is mounted into a container (backend_argo.py:78-83):
    ``from`` names the secret, ``to`` the destination directory, and each
    mapping lands key → <to>/<value> via a subPath mount."""

    source: str = Field(..., alias="from")
    destination: Path = Field(..., alias="to")
    mappings: list[SecretMapping]


class EnvFromConfig(BaseModel):
    """Inherit env vars from a secret or configMap (backend_argo.py:86-92)."""

    kind: Literal["secret", "configMap"] = "secret"
    name: str
    prefix: str | None = None
    optional: bool = True


class SecurityContextConfig(BaseModel):
    """Pod/container security context (backend_argo.py:95-112) — the
    fields needed to satisfy require-run-as-nonroot-class policies."""

    runAsNonRoot: bool = True
    runAsUser: int | None = None
    runAsGroup: int | None = None
    fsGroup: int | None = None
    fsGroupChangePolicy: Literal["OnRootMismatch", "Always"] | None = None
    supplementalGroups: list[int] = Field(default_factory=list)
    allowPrivilegeEscalation: bool | None = False
    readOnlyRootFilesystem: bool | None = None
    dropCapabilities: list[str] = Field(default_factory=lambda: ["ALL"])
    seccompProfileType: Literal["RuntimeDefault", "Localhost"] = "RuntimeDefault"
    seccompLocalhostProfile: str | None = None


class ResourcesConfig(BaseModel):
    """Container resource requests/limits (backend_argo.py:115-121)."""

    cpu_request: str = "100m"
    cpu_limit: str | None = None
    memory_request: str = "128Mi"
    memory_limit: str = "512Mi"


class TokenizerCacheConfig(BaseModel):
    """Persistent-volume tokenizer cache (backend_argo.py:124-138): when
    enabled, a PVC mounts at ``mountPath`` and HF_HOME points there."""

    enabled: bool = False
    claimName: str = "tokenizer-cache-pvc"
    mountPath: str = "/cache/huggingface"
    readOnly: bool = True
    createPvc: bool = False
    storageSize: str = "10Gi"
    storageClassName: str | None = None
    accessModes: list[str] = Field(default_factory=lambda: ["ReadWriteOnce"])


class ContainerConfig(BaseModel):
    """Runtime configuration applied to workflow containers
    (backend_argo.py:141-153)."""

    image: str = "wurzel-spark:latest"
    env: dict[str, str] = Field(default_factory=dict)
    envFrom: list[EnvFromConfig] = Field(default_factory=list)
    secretRef: list[str] = Field(default_factory=list)
    configMapRef: list[str] = Field(default_factory=list)
    mountSecrets: list[SecretMount] = Field(default_factory=list)
    tokenizerCache: TokenizerCacheConfig = Field(default_factory=TokenizerCacheConfig)
    annotations: dict[str, str] = Field(default_factory=dict)
    securityContext: SecurityContextConfig = Field(default_factory=SecurityContextConfig)
    resources: ResourcesConfig = Field(default_factory=ResourcesConfig)


class SecretKeyRef(BaseModel):
    """Reference to a key inside a Kubernetes Secret."""

    name: str
    key: str


class S3ArtifactConfig(BaseModel):
    """Storage destination for artifacts exchanged between steps
    (backend_argo.py:163-171)."""

    bucket: str = "wurzel-bucket"
    endpoint: str = "s3.amazonaws.com"
    insecure: bool = False
    defaultMode: int | None = None
    accessKeySecret: SecretKeyRef | None = None
    secretKeySecret: SecretKeyRef | None = None


class WorkflowConfig(BaseModel):
    """Workflow-level defaults rendered into the Argo manifest
    (backend_argo.py:174-204)."""

    name: str = "wurzel"
    namespace: str = "argo-workflows"
    schedules: list[str] | None = None
    entrypoint: str = "wurzel-pipeline"
    serviceAccountName: str = "wurzel-service-account"
    dataDir: Path = Path("/usr/app")
    annotations: dict[str, str] = Field(default_factory=dict)
    container: ContainerConfig = Field(default_factory=ContainerConfig)
    artifacts: S3ArtifactConfig = Field(default_factory=S3ArtifactConfig)
    podSecurityContext: SecurityContextConfig = Field(default_factory=SecurityContextConfig)
    nodeSelector: dict[str, str] = Field(
        default_factory=lambda: {"kubernetes.io/arch": "amd64"}
    )
    podSpecPatch: str | None = None

    @model_validator(mode="before")
    @classmethod
    def normalize_schedule(cls, data: Any) -> Any:
        """Accept the legacy singular ``schedule`` key and render it as
        ``schedules`` (backend_argo.py:192-199)."""
        if not isinstance(data, dict) or "schedule" not in data or "schedules" in data:
            return data
        normalized = dict(data)
        schedule = normalized.pop("schedule")
        normalized["schedules"] = (
            schedule if isinstance(schedule, list) or schedule is None else [schedule]
        )
        return normalized

    @property
    def schedule(self) -> str | None:
        """First configured schedule, for legacy callers."""
        return self.schedules[0] if self.schedules else None


class TemplateValues(BaseModel):
    """values.yaml parsed into per-workflow configs (backend_argo.py:207-210)."""

    workflows: dict[str, WorkflowConfig] = Field(default_factory=dict)


def select_workflow(values: TemplateValues, workflow_name: str | None) -> WorkflowConfig:
    """Select a workflow config by name, falling back to the first entry
    then to defaults (backend_argo.py:213-223)."""
    if workflow_name:
        try:
            return values.workflows[workflow_name]
        except KeyError as exc:
            raise ValueError(f"workflow '{workflow_name}' not found in values") from exc
    if values.workflows:
        return values.workflows[next(iter(values.workflows))]
    return WorkflowConfig()


class DvcConfig(BaseModel):
    """DVC pipeline configuration from YAML values (backend_dvc.py:64-69)."""

    dataDir: Path = Path("./data")
    encapsulateEnv: bool = True


class DvcTemplateValues(BaseModel):
    """values.yaml parsed into per-pipeline DVC configs (backend_dvc.py:72-75)."""

    dvc: dict[str, DvcConfig] = Field(default_factory=dict)


def select_pipeline(values: DvcTemplateValues, pipeline_name: str | None) -> DvcConfig:
    """Select a pipeline config by name / first entry / defaults
    (backend_dvc.py:78-88)."""
    if pipeline_name:
        try:
            return values.dvc[pipeline_name]
        except KeyError as exc:
            raise ValueError(f"pipeline '{pipeline_name}' not found in values") from exc
    if values.dvc:
        return values.dvc[next(iter(values.dvc))]
    return DvcConfig()


def dvc_settings_from_env() -> DvcConfig:
    """DVCBACKEND__DATA_DIR / DVCBACKEND__ENCAPSULATE_ENV env settings
    (backend_dvc.py:46-61, DvcBackendSettings) resolved into a config."""
    cfg: dict[str, Any] = {}
    data_dir = os.environ.get("DVCBACKEND__DATA_DIR")
    if data_dir:
        cfg["dataDir"] = Path(data_dir)
    enc = os.environ.get("DVCBACKEND__ENCAPSULATE_ENV")
    if enc is not None:
        cfg["encapsulateEnv"] = enc.strip().lower() not in ("0", "false", "no", "off")
    return DvcConfig(**cfg)


def dvc_config_from_values(
    files: list[Path | str], pipeline_name: str | None = None
) -> DvcConfig:
    """``DvcBackend.from_values`` equivalent (backend_dvc.py:155-168)."""
    return select_pipeline(load_values(files, DvcTemplateValues), pipeline_name)


def argo_config_from_values(
    files: list[Path | str], workflow_name: str | None = None
) -> WorkflowConfig:
    """``ArgoBackend.from_values`` equivalent (backend_argo.py:271-281)."""
    return select_workflow(load_values(files, TemplateValues), workflow_name)


# ---------------------------------------------------------------------------
# DVC generation (backend_dvc.py:170-287)
# ---------------------------------------------------------------------------

_SAFE_ENV_KEY = re.compile(r"^[A-Z_][A-Z0-9_]*$")


def write_env_file(env_vars: dict[str, str], data_dir: Path) -> Path:
    """Write env vars to ``<dataDir>/.wurzel_env`` as shell exports and
    return the path (backend_dvc.py:170-184): keys are validated against
    ``^[A-Z_][A-Z0-9_]*$`` shell-safety (injection guard), values
    single-quoted with embedded quotes escaped."""
    env_file = Path(data_dir) / ".wurzel_env"
    env_file.parent.mkdir(parents=True, exist_ok=True)
    lines = []
    for key, value in env_vars.items():
        if not _SAFE_ENV_KEY.match(key):
            raise ValueError(f"Unsafe environment variable name: {key!r}")
        escaped = str(value).replace("'", "'\\''")
        lines.append(f"export {key}='{escaped}'")
    env_file.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return env_file


def _step_cmd(
    manifest_path: str, step: str, data_dir: str, encapsulate_env: bool = True
) -> str:
    cmd = (
        f"python -m wurzel_spark run {manifest_path} "
        f"--only {step} --materialize-dir {data_dir}"
    )
    if not encapsulate_env:
        cmd += " --no-encapsulate-env"
    return cmd


def generate_dvc(
    m: Manifest,
    manifest_path: str,
    data_dir: str | None = None,
    config: DvcConfig | None = None,
    env_vars: dict[str, str] | None = None,
) -> str:
    """dvc.yaml text: a ``generate_run_id`` stage plus one stage per step
    in topological order (backend_dvc.py:236-287).

    Each step's cmd sources the run id (``export RUN_ID="$(cat ...)"``),
    optionally sources the generated env file, then re-enters the CLI for
    that single step; deps are the manifest file (the step's "source",
    the analog of ``inspect.getfile(step_class)``), the run-id output,
    the parent steps' output dirs, and the env file; ``always_changed``
    mirrors ``is_leaf()`` so sources re-run every invocation
    (backend_dvc.py:219).

    Config resolution: explicit ``config`` > explicit ``data_dir`` arg >
    DVCBACKEND__* env settings > defaults.
    """
    if config is None:
        config = dvc_settings_from_env()
        if data_dir is not None:
            config = config.model_copy(update={"dataDir": Path(data_dir)})
    dd = str(config.dataDir)
    run_id_output = f"{dd}/.wurzel_run_id"
    run_id_cmd = (
        f'export {RUN_ID_ENV}="dvc-$(date +%Y%m%d-%H%M%S)-$$" '
        f'&& echo "${RUN_ID_ENV}" > {run_id_output} && export {RUN_ID_ENV}'
    )
    stages: dict[str, dict] = {
        "generate_run_id": {
            "cmd": run_id_cmd,
            "outs": [run_id_output],
            "always_changed": True,
        }
    }
    env_file = write_env_file(env_vars, config.dataDir) if env_vars else None
    env_source = f". {shlex.quote(str(env_file))} && " if env_file else ""
    for name in m.topo_order():
        spec = m.steps[name]
        cli_call = _step_cmd(manifest_path, name, dd, config.encapsulateEnv)
        cmd = (
            f"{env_source}export {RUN_ID_ENV}="
            f'"$(cat {shlex.quote(run_id_output)})" '
            f'&& echo "${RUN_ID_ENV}" && {cli_call}'
        )
        deps = [manifest_path, run_id_output] + [f"{dd}/{d}" for d in spec.depends_on]
        if env_file:
            deps.append(str(env_file))
        stages[name] = {
            "cmd": cmd,
            "deps": deps,
            "outs": [f"{dd}/{name}"],
            "always_changed": not spec.depends_on,  # is_leaf()
        }
    return yaml.safe_dump({"stages": stages}, sort_keys=False)


# ---------------------------------------------------------------------------
# Argo generation (backend_argo.py:283-618)
# ---------------------------------------------------------------------------


def _drop_none(d: dict) -> dict:
    return {k: v for k, v in d.items() if v is not None}


def _seccomp(ctx: SecurityContextConfig) -> dict:
    return _drop_none(
        {
            "type": ctx.seccompProfileType,
            "localhostProfile": ctx.seccompLocalhostProfile,
        }
    )


def _pod_security_context(ctx: SecurityContextConfig) -> dict:
    """Pod-level security context (backend_argo.py:357-371)."""
    return _drop_none(
        {
            "runAsNonRoot": ctx.runAsNonRoot,
            "runAsUser": ctx.runAsUser,
            "runAsGroup": ctx.runAsGroup,
            "fsGroup": ctx.fsGroup,
            "fsGroupChangePolicy": ctx.fsGroupChangePolicy,
            "supplementalGroups": ctx.supplementalGroups or None,
            "seccompProfile": _seccomp(ctx),
        }
    )


def _container_security_context(ctx: SecurityContextConfig) -> dict:
    """Container-level security context (backend_argo.py:373-387)."""
    return _drop_none(
        {
            "runAsNonRoot": ctx.runAsNonRoot,
            "runAsUser": ctx.runAsUser,
            "runAsGroup": ctx.runAsGroup,
            "allowPrivilegeEscalation": ctx.allowPrivilegeEscalation,
            "readOnlyRootFilesystem": ctx.readOnlyRootFilesystem,
            "capabilities": {"drop": ctx.dropCapabilities},
            "seccompProfile": _seccomp(ctx),
        }
    )


def _container_resources(res: ResourcesConfig) -> dict:
    """requests/limits shape (backend_argo.py:389-397)."""
    return _drop_none(
        {
            "requests": _drop_none(
                {"cpu": res.cpu_request, "memory": res.memory_request}
            ),
            "limits": _drop_none({"cpu": res.cpu_limit, "memory": res.memory_limit}),
        }
    )


def _build_volumes(config: WorkflowConfig) -> tuple[list[dict], list[dict], list[dict]]:
    """(volumes, volumeClaimTemplates, per-container volumeMounts) from
    mountSecrets + tokenizerCache (backend_argo.py:283-342)."""
    volumes: list[dict] = []
    claims: list[dict] = []
    mounts: list[dict] = []
    for idx, sm in enumerate(config.container.mountSecrets):
        volume_name = f"secret-mount-{idx}"
        volumes.append({"name": volume_name, "secret": {"secretName": sm.source}})
        for mapping in sm.mappings:
            mounts.append(
                {
                    "name": volume_name,
                    "mountPath": (sm.destination / mapping.value).as_posix(),
                    "subPath": mapping.key,
                }
            )
    tc = config.container.tokenizerCache
    if tc.enabled:
        volume_name = "tokenizer-cache"
        if tc.createPvc:
            claims.append(
                {
                    "metadata": {"name": volume_name},
                    "spec": _drop_none(
                        {
                            "accessModes": tc.accessModes,
                            "resources": {"requests": {"storage": tc.storageSize}},
                            "storageClassName": tc.storageClassName,
                        }
                    ),
                }
            )
        else:
            volumes.append(
                {
                    "name": volume_name,
                    "persistentVolumeClaim": {"claimName": tc.claimName},
                }
            )
        mounts.append(
            {
                "name": volume_name,
                "mountPath": tc.mountPath,
                "readOnly": tc.readOnly,
            }
        )
    return volumes, claims, mounts


def _build_env_from(container: ContainerConfig) -> list[dict]:
    """envFrom entries: explicit EnvFromConfig, then secretRef /
    configMapRef shorthands (backend_argo.py:343-355)."""
    env_from: list[dict] = []
    for value in container.envFrom:
        key = "configMapRef" if value.kind == "configMap" else "secretRef"
        entry: dict = {key: {"name": value.name, "optional": value.optional}}
        if value.prefix:
            entry["prefix"] = value.prefix
        env_from.append(entry)
    for secret_name in container.secretRef:
        env_from.append({"secretRef": {"name": secret_name, "optional": True}})
    for configmap_name in container.configMapRef:
        env_from.append({"configMapRef": {"name": configmap_name, "optional": True}})
    return env_from


def _s3_artifact(step: str, config: WorkflowConfig) -> dict:
    """S3 artifact for a step's output dir (backend_argo.py:486-519):
    ``{{workflow.name}}`` keys the path so concurrent/cron runs never mix;
    stored un-archived (NoneArchiveStrategy) with recurseMode for dirs."""
    art = config.artifacts
    s3: dict = {
        "bucket": art.bucket,
        "endpoint": art.endpoint,
        "insecure": art.insecure,
        "key": "argo-workflows/{{workflow.name}}/" + step,
    }
    if art.accessKeySecret:
        s3["accessKeySecret"] = {
            "name": art.accessKeySecret.name,
            "key": art.accessKeySecret.key,
        }
    if art.secretKeySecret:
        s3["secretKeySecret"] = {
            "name": art.secretKeySecret.name,
            "key": art.secretKeySecret.key,
        }
    out: dict = {
        "name": f"wurzel-artifact-{step}",
        "path": str(config.dataDir / step),
        "recurseMode": True,
        "archive": {"none": {}},
        "s3": s3,
    }
    if art.defaultMode is not None:
        out["mode"] = art.defaultMode
    return out


def _step_env(
    m: Manifest, name: str, env: dict | None, config: WorkflowConfig
) -> list[dict]:
    """Per-step container env (backend_argo.py:546-569): the step's
    manifest settings exported in the {STEP}__{FIELD} convention the CLI
    re-entry reads back (manifest.env_settings), then the global env,
    then container.env (which WINS on collision, as in the reference's
    ``{**manifest_env, **container.env}``), the run id, and HF_HOME when
    the tokenizer cache is enabled."""
    spec = m.steps[name]
    merged: dict[str, str] = {
        f"{name.upper()}__{k.upper()}": str(v)
        for k, v in sorted(spec.settings.items())
    }
    for k, v in (env or {}).items():
        merged[k] = str(v)
    for k, v in config.container.env.items():
        merged[k] = str(v)
    out = [{"name": k, "value": v} for k, v in merged.items()]
    out.append({"name": RUN_ID_ENV, "value": "{{workflow.uid}}"})
    if config.container.tokenizerCache.enabled:
        out.append({"name": "HF_HOME", "value": config.container.tokenizerCache.mountPath})
    return out


def generate_argo(
    m: Manifest,
    manifest_path: str,
    data_dir: str | None = None,
    image: str | None = None,
    env: dict | None = None,
    config: WorkflowConfig | None = None,
) -> str:
    """Argo Workflow (or CronWorkflow when schedules are configured).

    One DAG task per step with ``dependencies`` from manifest edges
    (backend_argo.py:584-618); each task runs the same single-step CLI
    re-entry as the DVC backend, as the full command token list
    (backend_argo.py:539-541).

    Config resolution: ``config`` carries the reference's WorkflowConfig
    surface (namespace, schedules, service account, node selector,
    security contexts, container config, S3 artifacts, secret mounts,
    tokenizer cache, podSpecPatch). The legacy ``data_dir`` / ``image`` /
    ``env`` args overlay it; the workflow name and schedule default from
    the MANIFEST when no config names them (pinned divergence: the
    reference has no manifest — its workflows are named in values.yaml).
    """
    provided = config is not None
    config = config or WorkflowConfig()
    updates: dict[str, Any] = {}
    if data_dir is not None:
        updates["dataDir"] = Path(data_dir)
    if not provided:
        updates["name"] = m.name
        if m.schedule and config.schedules is None:
            updates["schedules"] = (
                m.schedule if isinstance(m.schedule, list) else [m.schedule]
            )
    if updates:
        config = config.model_copy(update=updates)
    if image is not None:
        config = config.model_copy(
            update={"container": config.container.model_copy(update={"image": image})}
        )

    volumes, claims, mounts = _build_volumes(config)
    env_from = _build_env_from(config.container)

    tasks = []
    templates: list[dict] = []
    for name in m.topo_order():
        spec = m.steps[name]
        task: dict = {"name": name, "template": f"wurzel-run-template-{name}"}
        if spec.depends_on:
            task["dependencies"] = list(spec.depends_on)
        tasks.append(task)

        container = _drop_none(
            {
                "image": config.container.image,
                # full command token list (backend_argo.py:539-541)
                "command": [
                    "python", "-m", "wurzel_spark",
                    "run", manifest_path,
                    "--only", name,
                    "--materialize-dir", str(config.dataDir),
                ],
                "env": _step_env(m, name, env, config),
                "envFrom": env_from or None,
                "resources": _container_resources(config.container.resources),
                "securityContext": _container_security_context(
                    config.container.securityContext
                ),
                "volumeMounts": mounts or None,
            }
        )
        template: dict = {
            "name": f"wurzel-run-template-{name}",
            "container": container,
            "retryStrategy": {"limit": 4, "retryPolicy": "OnError"},
        }
        if config.container.annotations:
            template["metadata"] = {"annotations": dict(config.container.annotations)}
        if spec.depends_on:
            template["inputs"] = {
                "artifacts": [_s3_artifact(dep, config) for dep in spec.depends_on]
            }
        template["outputs"] = {"artifacts": [_s3_artifact(name, config)]}
        templates.append(template)

    workflow_spec = _drop_none(
        {
            "entrypoint": config.entrypoint,
            "serviceAccountName": config.serviceAccountName,
            "nodeSelector": config.nodeSelector or None,
            "securityContext": _pod_security_context(config.podSecurityContext),
            "volumes": volumes or None,
            "volumeClaimTemplates": claims or None,
            "podSpecPatch": config.podSpecPatch,
            # the DAG template is always named wurzel-pipeline, matching
            # the reference's hardcoded DAG(name="wurzel-pipeline")
            # (backend_argo.py:614) independent of config.entrypoint
            "templates": [
                {"name": "wurzel-pipeline", "dag": {"tasks": tasks}},
                *templates,
            ],
        }
    )

    metadata = _drop_none(
        {
            "name": config.name,
            "namespace": config.namespace,
            "annotations": config.annotations or None,
        }
    )
    if config.schedules:  # noqa: SIM108 — two full document shapes
        doc = {
            "apiVersion": "argoproj.io/v1alpha1",
            "kind": "CronWorkflow",
            "metadata": metadata,
            "spec": {
                "schedules": list(config.schedules),
                "workflowSpec": workflow_spec,
            },
        }
    else:
        doc = {
            "apiVersion": "argoproj.io/v1alpha1",
            "kind": "Workflow",
            "metadata": metadata,
            "spec": workflow_spec,
        }
    return yaml.safe_dump(doc, sort_keys=False)


# ---------------------------------------------------------------------------
# Backend discovery (executors/backend/__init__.py: get_all_backends /
# get_available_backends / get_backend_by_name)
# ---------------------------------------------------------------------------

#: name → generator fn. Both backends emit YAML text directly (no hera /
#: dvc client needed), so unlike the reference neither has an optional
#: dependency gate — is-available is unconditionally True for both.
_BACKENDS = {"dvc": generate_dvc, "argo": generate_argo}


def get_all_backends() -> dict:
    """Every registered backend generator, as a fresh dict per call."""
    return dict(_BACKENDS)


def get_available_backends() -> dict:
    """Backends usable in this environment — here: all of them (the
    reference filters ArgoBackend on hera; we generate the manifest
    YAML without it)."""
    return dict(_BACKENDS)


def get_backend_by_name(name: str):
    """Generator for ``name``; raises ValueError naming the registry on
    an unknown backend (the reference's lookup contract)."""
    try:
        return _BACKENDS[name]
    except KeyError as exc:
        raise ValueError(
            f"unknown backend '{name}' (available: {sorted(_BACKENDS)})"
        ) from exc
