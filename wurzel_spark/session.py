"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the conf below is written so the
same plans scale on a real cluster: AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for the Python boundary, UTC session timezone
for cross-engine timestamp determinism.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Default driver heap: half the host's RAM, at least 1g, at most 48g.

    A fixed 48g let the heap of a long local run grow past the RAM of a
    small host until the kernel killed the JVM. ``total_bytes`` defaults
    to the physical memory this host reports.
    """
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError):
            return "48g"
    half_mb = total_bytes // (2 * 1024 * 1024)
    return f"{max(1024, min(48 * 1024, half_mb))}m"


def python_daemon_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """Conf that launches Python workers through ``wurzel_spark.daemon``.

    That daemon stops each task from re-reading ``pyspark.zip`` (see its
    docstring). The package's parent directory goes on the workers'
    PYTHONPATH, ahead of any path the caller set there, so the daemon
    imports whatever the driver's working directory is. A caller that
    names its own daemon module gets nothing changed.
    """
    if "spark.python.daemon.module" in extra_conf:
        return {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = (root, extra_conf.get("spark.executorEnv.PYTHONPATH"))
    return {
        "spark.python.daemon.module": "wurzel_spark.daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in paths if p),
    }


def get_spark(
    app_name: str = "wurzel_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-aware defaults.

    On a real cluster, master/memory come from spark-submit; in local mode we
    default to ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions matched
    to cores (not the 200 default, which makes tiny local partitions),
    and Python workers start from ``wurzel_spark.daemon``
    (``python_daemon_conf``).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Wide aggregates (e.g. the 64-column SimHash bit-vote, 32-column
        # MinHash signature) blow past the default 100-field cap and silently
        # fall out of whole-stage codegen into interpreted mode (~3× slower).
        .config("spark.sql.codegen.maxFields", "256")
        # Generated classes are cached by source text, 100 by default. One
        # pass of the perfbench `queries` workload alone makes ~190 entries,
        # so every pass evicted and recompiled ~130-190 classes (~1 s of
        # Janino compile, then JIT again) at the default; the whole
        # registry at sf0.001 makes 3,983. 4096 holds the registry, for
        # ~25 MB more metaspace than the default.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The cache key is the class source, and by default the class name
        # carries the whole-stage codegen id, which AQE assigns in the order
        # stages get planned at run time. The same stage then missed the
        # cache whenever its id moved (0-10 recompiles per warm pass of the
        # benched queries); without the id it hits, and a first pass
        # compiles ~15% fewer classes because equal stages share one.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Let AQE coalesce the partitions of a cached plan as it does for an
        # uncached one. Off (the default), a persisted frame keeps all
        # spark.sql.shuffle.partitions, and every Python UDF stage reading
        # it runs one Arrow worker task per partition, however small.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Straggler insurance: one stalled core (noisy neighbor on this VM,
        # slow node on a real cluster) stalls a whole task wave; speculative
        # re-execution bounds the tail at the cost of some duplicate work.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "2")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    # Only force a master when none is configured (cluster submit wins).
    local = not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ
    if local:
        builder = builder.master(f"local[{cpus}]")
    # Scale-dependent settings stay parameterised: deployment-specific
    # overrides ride $SPARK_GRAFT_EXTRA_CONF as ';'-separated k=v pairs
    # (e.g. shuffle partitions / advisory sizes sized to a real cluster)
    # with the local defaults above untouched, so the driver's bench
    # stays comparable while a production submit can retune without a
    # code change.
    # Keys are whitelisted to tuning prefixes so a stale env var can't
    # flip a correctness-relevant conf (ANSI mode, session timezone)
    # under a graded run, and every applied pair is logged to stderr so
    # an override always leaves a trace.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    _TUNING_PREFIXES = (
        "spark.sql.shuffle.",
        "spark.sql.adaptive.",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.files.",
        "spark.executor.",
        "spark.driver.memory",
        "spark.memory.",
        "spark.speculation",
        "spark.default.parallelism",
    )
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            k, v = k.strip(), v.strip()
            if k.startswith(_TUNING_PREFIXES):
                print(f"wurzel_spark: SPARK_GRAFT_EXTRA_CONF {k}={v}", file=sys.stderr)
                builder = builder.config(k, v)
            else:
                print(
                    f"wurzel_spark: SPARK_GRAFT_EXTRA_CONF ignored non-tuning key {k}",
                    file=sys.stderr,
                )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    if local:
        for k, v in python_daemon_conf(extra_conf or {}).items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics``); a warm query adds 0 when its classes stay cached."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
