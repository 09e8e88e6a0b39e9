"""Manifest parsing/validation/execution + env overrides + CLI."""

import os
import subprocess
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from wurzel_spark.manifest import Manifest, ManifestError, run_manifest

# the step-boundary tests ship UDFs defined here into Spark's Python
# workers, which can't import test modules — pickle them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

YAML = """
pipeline:
  name: demo
  schedule: "0 3 * * *"
steps:
  source:
    uses: markdown_source
    settings: {path: "%PATH%"}
  dedup:
    uses: dedup
    dependsOn: [source]
  split:
    uses: split
    dependsOn: [dedup]
    settings: {token_limit: 128}
"""


def _manifest(md_folder):
    return Manifest.from_yaml(YAML.replace("%PATH%", md_folder))


def test_parse_and_topo(md_folder):
    m = _manifest(md_folder)
    assert m.name == "demo"
    assert m.topo_order() == ["source", "dedup", "split"]
    assert m.terminals() == ["split"]


def test_dangling_dep_rejected():
    with pytest.raises(ManifestError, match="unknown step"):
        Manifest.from_yaml(
            "steps:\n  a:\n    uses: dedup\n    dependsOn: [ghost]\n"
        )


def test_cycle_rejected():
    with pytest.raises(ManifestError, match="cycle"):
        Manifest.from_yaml(
            "steps:\n"
            "  a:\n    uses: dedup\n    dependsOn: [b]\n"
            "  b:\n    uses: dedup\n    dependsOn: [a]\n"
        )


def test_run_manifest(spark, md_folder):
    outs = run_manifest(spark, _manifest(md_folder))
    assert set(outs) == {"split"}
    assert outs["split"].count() >= 5


def test_env_override_wins(md_folder, monkeypatch):
    monkeypatch.setenv("SPLIT__TOKEN_LIMIT", "64")
    m = _manifest(md_folder)
    # env wins AND is coerced back to the manifest field's type (ADVICE
    # r6: env strings must not leak into step kwargs)
    assert m.env_settings("split")["token_limit"] == 64


def test_cli_inspect_and_run(md_folder, tmp_path):
    mf = tmp_path / "m.yaml"
    mf.write_text(YAML.replace("%PATH%", md_folder))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    r = subprocess.run(
        [sys.executable, "-m", "wurzel_spark", "inspect", str(mf)],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=120,
    )
    assert r.returncode == 0
    assert "terminals: split" in r.stdout
    r2 = subprocess.run(
        [sys.executable, "-m", "wurzel_spark", "env", str(mf)],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=120,
    )
    assert "SPLIT__TOKEN_LIMIT" in r2.stdout


def test_extended_registry_pipeline(spark, md_folder, tmp_path):
    """Full-surface manifest: source -> clean -> dedup -> truncate -> split
    -> metrics, plus a snapshot sink terminal."""
    import yaml as _yaml

    from wurzel_spark.manifest import Manifest, run_manifest

    manifest = Manifest.from_yaml(
        f"""
pipeline: {{name: full}}
steps:
  source:
    uses: markdown_source
    settings: {{path: {md_folder}}}
  clean:
    uses: clean_md
    dependsOn: [source]
  dedup:
    uses: dedup
    dependsOn: [clean]
  truncate:
    uses: truncate
    settings: {{token_limit: 64}}
    dependsOn: [dedup]
  split:
    uses: split
    settings: {{token_limit: 32, token_limit_buffer: 8, token_limit_min: 4}}
    dependsOn: [truncate]
  metrics:
    uses: doc_metrics
    dependsOn: [split]
  snap:
    uses: snapshot_sink
    settings: {{root: {tmp_path}/snaps, timestamp: "2026-01-01T000000Z"}}
    dependsOn: [metrics]
"""
    )
    outs = run_manifest(spark, manifest)
    assert list(outs) == ["snap"]
    rows = outs["snap"].collect()
    assert len(rows) >= 5  # every doc produced at least one chunk row
    assert {"md_char_len", "md_line_count", "keywords_count"} <= set(outs["snap"].columns)
    import os

    assert os.path.exists(f"{tmp_path}/snaps/latest.json")

def test_generate_dvc_golden_structure(md_folder):
    """Golden-structure check modeled on the reference's backend tests
    (tests/backend/test_backend_dvc.py): the generate_run_id stage, per-step
    stages with run-id-sourcing CLI re-entry cmds, manifest+run-id+dir deps,
    always_changed mirroring is_leaf()."""
    import yaml as _yaml

    from wurzel_spark.backends import RUN_ID_ENV, generate_dvc

    m = _manifest(md_folder)
    doc = _yaml.safe_load(generate_dvc(m, "m.yaml", data_dir="data"))
    assert list(doc["stages"]) == ["generate_run_id", "source", "dedup", "split"]
    rid = doc["stages"]["generate_run_id"]
    assert rid["outs"] == ["data/.wurzel_run_id"] and rid["always_changed"] is True
    assert f'export {RUN_ID_ENV}="dvc-$(date' in rid["cmd"]
    src = doc["stages"]["source"]
    assert src["always_changed"] is True  # leaf re-runs every invocation
    assert src["deps"] == ["m.yaml", "data/.wurzel_run_id"]
    assert src["outs"] == ["data/source"]
    ded = doc["stages"]["dedup"]
    assert ded["always_changed"] is False  # non-leaf memoizes via deps
    assert ded["deps"] == ["m.yaml", "data/.wurzel_run_id", "data/source"]
    assert ded["outs"] == ["data/dedup"]
    assert "--only dedup" in ded["cmd"] and "python -m wurzel_spark run" in ded["cmd"]
    assert f'export {RUN_ID_ENV}="$(cat data/.wurzel_run_id)"' in ded["cmd"]
    # determinism: identical input -> identical artifact text
    assert generate_dvc(m, "m.yaml") == generate_dvc(m, "m.yaml")


def test_generate_argo_cron_and_dag(md_folder):
    """Schedule in the manifest -> CronWorkflow with a schedules LIST; DAG
    dependencies mirror the step graph (reference:
    tests/backend/test_backend_argo.py)."""
    import yaml as _yaml

    from wurzel_spark.backends import generate_argo

    m = _manifest(md_folder)
    doc = _yaml.safe_load(generate_argo(m, "m.yaml"))
    assert doc["kind"] == "CronWorkflow"
    assert doc["spec"]["schedules"] == ["0 3 * * *"]
    assert doc["metadata"]["name"] == "demo"
    wf = doc["spec"]["workflowSpec"]
    assert wf["entrypoint"] == "wurzel-pipeline"
    assert wf["templates"][0]["name"] == "wurzel-pipeline"
    tasks = {t["name"]: t for t in wf["templates"][0]["dag"]["tasks"]}
    assert set(tasks) == {"source", "dedup", "split"}
    assert tasks["split"]["template"] == "wurzel-run-template-split"
    assert "dependencies" not in tasks["source"]
    assert tasks["dedup"]["dependencies"] == ["source"]
    assert tasks["split"]["dependencies"] == ["dedup"]
    # no schedule -> plain Workflow, named metadata (reference uses the
    # config/workflow name for both kinds, backend_argo.py:468-484)
    m.schedule = None
    doc2 = _yaml.safe_load(generate_argo(m, "m.yaml"))
    assert doc2["kind"] == "Workflow"
    assert doc2["metadata"]["name"] == "demo"
    assert "schedules" not in doc2["spec"]


def test_run_only_single_step_reentry(spark, md_folder, tmp_path):
    """--only executes one step from materialized parent outputs — the
    execution model the generated DVC/Argo artifacts rely on."""
    from wurzel_spark.manifest import run_single_step

    m = _manifest(md_folder)
    mat = str(tmp_path / "data")
    # run the graph in generated-artifact order, one step at a time
    for step in m.topo_order():
        df = run_single_step(spark, m, step, mat)
    assert df.count() >= 5
    # single-step outputs must agree with the composed-plan run
    composed = run_manifest(spark, m)["split"]
    assert sorted(r["md"] for r in df.collect()) == sorted(
        r["md"] for r in composed.collect()
    )


def test_step_env_encapsulation_restores(monkeypatch):
    import os

    from wurzel_spark.manifest import step_env_encapsulation

    monkeypatch.setenv("KEEP_ME", "original")
    with step_env_encapsulation({"api_key": "s3cret", "batch": 1024, "tags": ["a", "b"]}):
        assert os.environ["api_key"] == "s3cret"
        assert os.environ["batch"] == "1024"
        assert os.environ["tags"] == '["a", "b"]'
        assert os.environ["KEEP_ME"] == "original"
    assert "api_key" not in os.environ  # virtual env fully restored
    assert "batch" not in os.environ
    assert os.environ["KEEP_ME"] == "original"


def test_manifest_dedup_is_deterministic(spark):
    from wurzel_spark.manifest import REGISTRY

    df = spark.createDataFrame(
        [("dup", 3, "keep-lowest"), ("dup", 1, "winner"), ("dup", 2, "mid"), ("uniq", 9, "x")],
        "md string, ord long, tag string",
    )
    out = REGISTRY["dedup"](spark, [df], fields="md", order_by="ord")
    got = {r["md"]: r["tag"] for r in out.collect()}
    # first row per key under the declared ordering — NOT an arbitrary one
    assert got == {"dup": "winner", "uniq": "x"}


def test_generate_argo_per_step_env_and_artifacts(md_folder):
    """r6 depth parity (reference backend_argo.py:486-556): per-step env
    injection in the {STEP}__{FIELD} round-trip convention, global env
    winning on collision, the run-id var, S3 artifact input/output
    wiring keyed by workflow name, and the retry strategy."""
    import yaml as _yaml

    from wurzel_spark.backends import (
        RUN_ID_ENV,
        S3ArtifactConfig,
        SecretKeyRef,
        WorkflowConfig,
        generate_argo,
    )

    m = _manifest(md_folder)
    config = WorkflowConfig(
        name="demo",
        schedules=["0 3 * * *"],
        dataDir="data",
        artifacts=S3ArtifactConfig(
            bucket="curation-artifacts",
            endpoint="minio:9000",
            insecure=True,
            accessKeySecret=SecretKeyRef(name="s3-creds", key="accesskey"),
            secretKeySecret=SecretKeyRef(name="s3-creds", key="secretkey"),
        ),
    )
    doc = _yaml.safe_load(
        generate_argo(
            m, "m.yaml", env={"LOG_LEVEL": "info", "SPLIT__TOKEN_LIMIT": "64"},
            config=config,
        )
    )
    wf = doc["spec"]["workflowSpec"]
    tpl = {t["name"]: t for t in wf["templates"]}
    assert set(tpl) == {
        "wurzel-pipeline",
        "wurzel-run-template-source",
        "wurzel-run-template-dedup",
        "wurzel-run-template-split",
    }

    # (a) per-step env: split's manifest setting becomes SPLIT__TOKEN_LIMIT,
    # and the GLOBAL env override wins the collision (container.env wins)
    split_tpl = tpl["wurzel-run-template-split"]
    env = {e["name"]: e["value"] for e in split_tpl["container"]["env"]}
    assert env["SPLIT__TOKEN_LIMIT"] == "64"  # global won over manifest's 128
    assert env["LOG_LEVEL"] == "info"
    assert env[RUN_ID_ENV] == "{{workflow.uid}}"
    src_env = {
        e["name"]: e["value"]
        for e in tpl["wurzel-run-template-source"]["container"]["env"]
    }
    assert src_env["SOURCE__PATH"]  # manifest setting exported per-step

    # (b) artifacts: outputs on every step, inputs mirror dependencies,
    # key namespaced by workflow name, secrets referenced not inlined
    out = tpl["wurzel-run-template-dedup"]["outputs"]["artifacts"][0]
    assert out["s3"]["key"] == "argo-workflows/{{workflow.name}}/dedup"
    assert out["s3"]["bucket"] == "curation-artifacts"
    assert out["s3"]["accessKeySecret"] == {"name": "s3-creds", "key": "accesskey"}
    assert out["archive"] == {"none": {}} and out["recurseMode"] is True
    ins = split_tpl["inputs"]["artifacts"]
    assert [a["s3"]["key"] for a in ins] == [
        "argo-workflows/{{workflow.name}}/dedup"
    ]
    assert ins[0]["path"] == "data/dedup"  # restored where the CLI reads it
    assert "inputs" not in tpl["wurzel-run-template-source"]  # leaf: no inputs

    # (c) retry strategy (reference: limit 4, OnError)
    assert tpl["wurzel-run-template-dedup"]["retryStrategy"] == {
        "limit": 4,
        "retryPolicy": "OnError",
    }

    # without an explicit config: artifacts still emitted with the
    # reference's defaults (backend_argo.py always wires S3 artifacts)
    doc2 = _yaml.safe_load(generate_argo(m, "m.yaml"))
    tpl2 = {t["name"]: t for t in doc2["spec"]["workflowSpec"]["templates"]}
    out2 = tpl2["wurzel-run-template-split"]["outputs"]["artifacts"][0]
    assert out2["s3"]["bucket"] == "wurzel-bucket"
    assert any(
        e["name"] == "SPLIT__TOKEN_LIMIT"
        for e in tpl2["wurzel-run-template-split"]["container"]["env"]
    )


def test_argo_env_round_trips_into_settings(md_folder, monkeypatch):
    """The generated env vars are EXACTLY what Manifest.env_settings
    reads back inside the container — the YAML round-trips settings."""
    import yaml as _yaml

    from wurzel_spark.backends import generate_argo

    m = _manifest(md_folder)
    doc = _yaml.safe_load(generate_argo(m, "m.yaml"))
    tpl = {t["name"]: t for t in doc["spec"]["workflowSpec"]["templates"]}
    for e in tpl["wurzel-run-template-split"]["container"]["env"]:
        monkeypatch.setenv(e["name"], e["value"])
    # round-trip INCLUDING type: Argo exports str(128), env_settings
    # coerces it back to the int the local run passes (ADVICE r6)
    assert m.env_settings("split")["token_limit"] == 128


# ---------------------------------------------- step-boundary materialization

_ACC = None  # accumulator the bump step's UDF adds to (the ``acc`` fixture)


@pytest.fixture()
def acc(spark, monkeypatch):
    a = spark.sparkContext.accumulator(0)
    monkeypatch.setattr(sys.modules[__name__], "_ACC", a)
    return a


def rows_step(spark, inputs, *, n):
    return spark.range(int(n)).selectExpr("id AS v")


def bump_step(spark, inputs):
    """Maps every row through a Python UDF that counts its calls."""
    (df,) = inputs
    acc = _ACC

    @F.udf("long")
    def bump(v):
        acc.add(1)
        return v + 1

    return df.withColumn("v", bump("v"))


def three_actions_step(spark, inputs):
    """A multi-action consumer, like the near-dup step or the sink."""
    (df,) = inputs
    for _ in range(3):
        df.agg(F.sum("v")).collect()  # consumes v: no column pruning
    return df


def derive_three_actions_step(spark, inputs):
    """A multi-action consumer whose output is a new frame."""
    return three_actions_step(spark, inputs).withColumn("v", F.col("v") * 2)


def lazy_step(spark, inputs):
    (df,) = inputs
    return df.filter("v > 0")


def fail_step(spark, inputs):
    raise RuntimeError("step failed")


def embed_noting_cache_step(spark, inputs):
    """The embed step, tagging its rows with whether its input was still
    cached when it ran."""
    from wurzel_spark.operators.embedding import embed_stage

    (df,) = inputs
    return embed_stage(df, dim=8).withColumn("input_cached", F.lit(df.is_cached))


def _graph(*tail: str) -> Manifest:
    return Manifest.from_yaml(_graph_yaml(*tail))


def _graph_yaml(*tail: str) -> str:
    """rows -> bump -> the ``tail`` steps, one after the other."""
    steps, prev = "", "bump"
    for i, fn in enumerate(tail):
        steps += f"""
  s{i}:
    uses: "{__name__}:{fn}"
    dependsOn: [{prev}]"""
        prev = f"s{i}"
    return f"""
steps:
  rows:
    uses: "{__name__}:rows_step"
    settings: {{n: 40}}
  bump:
    uses: "{__name__}:bump_step"
    dependsOn: [rows]{steps}
"""


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_step_output_computed_once_for_multi_action_consumer(spark, acc):
    outs = run_manifest(spark, _graph("three_actions_step"))
    # bump's UDF ran once per row, not once per downstream action
    assert acc.value == 40
    assert outs["s0"].agg(F.sum("v")).first()[0] == sum(range(1, 41))


def test_multi_action_steps_in_a_row_compute_upstream_once(spark, acc):
    """The first multi-action step's output is filled while bump's cache
    still exists, so the second one never re-runs bump's UDF."""
    outs = run_manifest(
        spark, _graph("derive_three_actions_step", "derive_three_actions_step")
    )
    assert acc.value == 40
    assert outs["s1"].agg(F.sum("v")).first()[0] == 4 * sum(range(1, 41))


def test_lazy_chain_runs_nothing_until_the_caller_acts(spark, acc):
    """No step takes an action: run_manifest fills no cache and runs no
    UDF; the caller's one action on the lazy terminal runs it once."""
    outs = run_manifest(spark, _graph("lazy_step", "lazy_step"))
    assert acc.value == 0
    assert outs["s1"].count() == 40
    assert acc.value == 40


def test_run_manifest_leaves_nothing_cached(spark, acc):
    spark.catalog.clearCache()
    run_manifest(spark, _graph("derive_three_actions_step", "three_actions_step"))
    assert _cache_empty(spark)
    with pytest.raises(RuntimeError, match="step failed"):
        run_manifest(spark, _graph("derive_three_actions_step", "fail_step"))
    assert _cache_empty(spark)


def test_non_terminal_parquet_sink_matches_materialize_dir(spark, md_folder, tmp_path):
    """parquet_sink returns its input object: the shared cache entry must
    stay until the step after the sink has run."""
    m = Manifest.from_yaml(
        f"""
steps:
  source:
    uses: markdown_source
    settings: {{path: "{md_folder}"}}
  split:
    uses: split
    dependsOn: [source]
    settings: {{token_limit: 32, token_limit_buffer: 8, token_limit_min: 4}}
  save:
    uses: parquet_sink
    dependsOn: [split]
    settings: {{path: "{tmp_path}/saved"}}
  embed:
    uses: "{__name__}:embed_noting_cache_step"
    dependsOn: [save]
"""
    )

    def rows(df):
        return sorted((r["text"], tuple(r["vector"]), r["input_cached"]) for r in df.collect())

    spark.catalog.clearCache()
    cached = rows(run_manifest(spark, m)["embed"])
    assert _cache_empty(spark)
    assert cached and all(r[2] for r in cached)  # split's entry outlived its own consumer
    materialized = rows(run_manifest(spark, m, str(tmp_path / "mat"))["embed"])
    assert [r[:2] for r in cached] == [r[:2] for r in materialized]
    assert spark.read.parquet(f"{tmp_path}/saved").count() == len(cached)



def test_cli_run_out_runs_each_terminal_once(spark, acc, tmp_path, monkeypatch, capsys):
    """`run --out` counts and then writes each lazy terminal output; the
    UDF behind it must still run once per row, not once per action."""
    import wurzel_spark
    from wurzel_spark.cli import main

    monkeypatch.setattr(wurzel_spark, "get_spark", lambda name: spark)
    mf = tmp_path / "m.yaml"
    mf.write_text(_graph_yaml())  # terminal: bump itself
    spark.catalog.clearCache()
    assert main(["run", str(mf), "--out", str(tmp_path / "out")]) == 0
    assert "bump: 40 rows" in capsys.readouterr().out
    assert acc.value == 40
    assert spark.read.parquet(str(tmp_path / "out" / "bump")).count() == 40
    assert _cache_empty(spark)
