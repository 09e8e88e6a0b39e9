"""The local session's Python worker daemon (``wurzel_spark.daemon``): a
reused worker must not re-read ``pyspark.zip`` on every task, while zip
imports keep their semantics."""

import importlib
import os
import subprocess
import sys
import textwrap
import types
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wurzel_spark import daemon as D
from wurzel_spark.session import default_driver_memory, get_spark, python_daemon_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_zip_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads zips lazily itself"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def reads(monkeypatch):
    """Counts of zip directory reads, by archive path."""
    seen: dict[str, int] = {}
    read = zipimport._read_directory

    def counting(path):
        seen[path] = seen.get(path, 0) + 1
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_zip_patch
def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    a, b = f"zmod_a_{uuid.uuid4().hex}", f"zmod_b_{uuid.uuid4().hex}"
    _write_zip(archive, {a: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", D._invalidate_caches)
    try:
        assert importlib.import_module(a).VALUE == 1
        importlib.invalidate_caches()  # records the archive's stamp
        before = reads.get(archive, 0)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.get(archive, 0) == before  # unchanged: not re-read

        _write_zip(archive, {a: "VALUE = 1\n", b: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads[archive] == before + 1  # rewritten: re-read once
        assert importlib.import_module(b).VALUE == 2
    finally:
        sys.modules.pop(a, None)
        sys.modules.pop(b, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_uses_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "wurzel_spark.daemon"


@needs_zip_patch
def test_reused_worker_does_not_reread_archives(spark):
    """The first run in a worker installs a read counter there; a later
    run that lands on the same worker reports the reads made since, which
    include its own task set-up's ``importlib.invalidate_caches()``."""

    @F.pandas_udf("long")
    def archive_reads(s: pd.Series) -> pd.Series:
        import zipimport

        counter = getattr(zipimport, "_reads_since_probe", None)
        if counter is None:
            counter = zipimport._reads_since_probe = [0]
            read = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return read(path)

            zipimport._read_directory = counting
            return pd.Series([-1] * len(s))
        return pd.Series([counter[0]] * len(s))

    one = spark.range(1).repartition(1)
    # idle workers are handed out in turn; run until one is reused
    reported = []
    for _ in range(40):
        reported.append(one.select(archive_reads("id")).first()[0])
        if reported[-1] >= 0:
            break
    assert reported[-1] == 0, reported


def test_add_py_file_after_the_first_task_imports(spark, tmp_path):
    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    assert spark.range(3).select(plus_one("id")).collect()[2][0] == 3
    name = f"addpy_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    @F.pandas_udf("long")
    def from_added(s: pd.Series) -> pd.Series:
        import importlib

        return s * 0 + importlib.import_module(name).VALUE

    try:
        assert [r[0] for r in spark.range(4).select(from_added("id")).collect()] == [42] * 4
    finally:
        sys.modules.pop(name, None)


def test_pandas_udf_from_a_working_directory_outside_the_repo(tmp_path):
    """The workers find the daemon module through the session's conf, not
    through the driver's working directory or PYTHONPATH: if they could
    not, every Python task would fail."""
    script = tmp_path / "run_udf.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            import pandas as pd
            from pyspark.sql import functions as F
            from wurzel_spark import get_spark

            spark = get_spark("foreign_cwd", cpus=1, shuffle_partitions=1)

            @F.pandas_udf("long")
            def double(s: pd.Series) -> pd.Series:
                return s * 2

            print("SUM", spark.range(10).select(double("id").alias("d")).agg(F.sum("d")).first()[0])
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_MASTER")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=240,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "SUM 90" in r.stdout


def _options_of_get_spark(monkeypatch, **kwargs) -> dict:
    """The conf ``get_spark`` would start a session with (no JVM started)."""
    seen = {}

    def fake_get_or_create(builder):
        seen.update(builder._options)
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=print))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    get_spark("conf_probe", **kwargs)
    return seen


def test_daemon_conf_only_when_get_spark_chose_the_local_master(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    local = _options_of_get_spark(monkeypatch, cpus=2)
    assert local["spark.master"] == "local[2]"
    assert local["spark.python.daemon.module"] == "wurzel_spark.daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == REPO

    monkeypatch.setenv("SPARK_MASTER", "spark://cluster:7077")
    submitted = _options_of_get_spark(monkeypatch, cpus=2)
    assert "spark.master" not in submitted
    assert "spark.python.daemon.module" not in submitted
    assert "spark.executorEnv.PYTHONPATH" not in submitted


def test_daemon_conf_respects_the_callers_settings():
    assert python_daemon_conf({"spark.python.daemon.module": "my.daemon"}) == {}
    conf = python_daemon_conf({"spark.executorEnv.PYTHONPATH": "/deps"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join((REPO, "/deps"))


def test_default_driver_memory_is_half_the_ram_within_bounds(monkeypatch):
    gib = 1024**3
    assert default_driver_memory(16 * gib) == "8192m"
    assert default_driver_memory(1 * gib) == "1024m"  # floor
    assert default_driver_memory(512 * gib) == f"{48 * 1024}m"  # cap
    assert default_driver_memory().endswith("m")  # this host's RAM
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    assert _options_of_get_spark(monkeypatch)["spark.driver.memory"] == "3g"
