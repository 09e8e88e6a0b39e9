"""Filesystem existence check that works for ANY Hadoop-supported URI
(local, HDFS, S3A, ABFS) — streaming state dirs live wherever the
checkpoint does, and a driver-local os.path probe silently returns False
for remote URIs, which would make every batch look like the first."""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` under the session's config."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def list_batch_ids(spark: SparkSession, state_dir: str) -> list[int]:
    """Batch ids of the ``batch=N`` partition subdirectories under a
    streaming state dir (any Hadoop URI), sorted ascending. Empty if the
    dir doesn't exist yet."""
    fs, p = _fs_path(spark, state_dir)
    if not fs.exists(p):
        return []
    ids = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            try:
                ids.append(int(name[len("batch=") :]))
            except ValueError:
                continue
    return sorted(ids)


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete (no-op if absent) through the FileSystem API."""
    fs, p = _fs_path(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """FileSystem rename (atomic on HDFS/local for directories)."""
    fs, ps = _fs_path(spark, src)
    return fs.rename(ps, _fs_path(spark, dst)[1])
