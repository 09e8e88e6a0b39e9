"""Loaders for the driver-generated TPC-H-ish parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file/dir each under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: inferred parquet schemas, keyed by (application id, absolute path, file
#: identity, nanosAsLong) — see :func:`_read_parquet`
_SCHEMAS: dict[tuple, T.StructType] = {}


def _file_identity(path: str) -> tuple | None:
    """``(name, st_mtime_ns, st_size)`` of each data file under ``path`` (a
    file or a directory of part files); None when the path is not on the
    local file system."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f)
            for d, _, names in os.walk(path)
            for f in names
            if not f.startswith((".", "_"))
        )
    try:
        return tuple((f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)])
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file.

    Inference lists the files and runs a one-task footer job (~100 ms, the
    first job of every query). A later read of the same unchanged file in
    the same application reuses the inferred ``StructType``, so it runs no
    job. Only the schema is kept, never a DataFrame: each call still
    returns a fresh relation with new attribute ids. A rewritten file has
    a new identity and is inferred again; so is one read under a different
    ``nanosAsLong``, which changes the inferred type of nanosecond columns.
    """
    local = os.path.abspath(path)
    ident = _file_identity(local)
    if ident is None:
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        local,
        ident,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet scan → Catalyst gets pushdown + pruning.

    The ``events`` table's ``ts`` column has shipped in two physical forms
    across driver testdata generations: int64 *nanosecond* timestamps (which
    Spark rejects by default, PARQUET_TYPE_ILLEGAL — read as LongType via the
    runtime-settable ``nanosAsLong`` conf and truncated to micros), and naive
    ``timestamp[us]`` (isAdjustedToUTC=false, which Spark 4 reads as
    TIMESTAMP_NTZ). Both are normalized to TIMESTAMP: the session timezone is
    pinned to UTC (session.py), so the NTZ→LTZ cast maps wall time to the
    identical epoch micros DuckDB sees for the same naive values —
    cross-engine bit-exact either way (verified on every row at sf0.01).
    ``nanosAsLong`` holds only while the events schema is inferred; the
    caller's value comes back afterwards, so no other read in the session
    infers its nanosecond columns as longs.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        conf = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "true")
        try:
            df = _read_parquet(spark, path)
        finally:
            spark.conf.set(conf, prev)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # NTZ wall time must map to the identical epoch DuckDB computes
            # for the same naive values, i.e. be interpreted as UTC. The
            # cast below resolves through the *session* timezone, so that
            # only holds when the session is pinned to UTC — fail loudly if
            # a caller built a session without session.py's pin, rather
            # than silently shifting every epoch.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"events.ts is TIMESTAMP_NTZ and requires a UTC session "
                    f"timezone for epoch-correct conversion; got {tz!r}. "
                    "Use wurzel_spark.session.get_spark() or set "
                    "spark.sql.session.timeZone=UTC."
                )
            # Explicit TimestampType: cast("timestamp") resolves via
            # spark.sql.timestampType and would no-op under TIMESTAMP_NTZ.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read all tables and register each as a temp view (for spark.sql)."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
