"""Spark 4 Python Data Source for markdown folders:
``spark.read.format("wurzel_markdown").load(dir)``.

Reference parity: the same ManualMarkdownStep / MarkdownDataContract
semantics as sources/markdown.py (front-matter fences common.py:17,
invalid-YAML fallback common.py:117-131, ``topics``→keywords
common.py:133-139, stem/path defaults common.py:140-146) — exposed
through Spark's DataSource V2 Python API instead of a helper function,
so the source composes with everything `spark.read` gives for free:
format registration, schema projection, `.option()` plumbing, and the
catalog.

Scale shape: the driver plans partitions from the file listing only
(paths, never contents — the listing for millions of files should move
to a manifest table, which this reader also accepts via
``option("fileList", csv)``); each executor task opens only its own
chunk of files. ``filesPerPartition`` is the parallelism dial the way
``maxPartitionBytes`` is for parquet scans.

The expression-based reader (sources/markdown.py:read_markdown_folder)
remains the default path — JVM regex + one vectorized YAML UDF beats
per-file Python I/O when files are few and large. This source is the
shape for the opposite regime: huge file counts where listing/planning
control matters. Both emit identical rows (parity-tested).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from wurzel_spark.sources import markdown

_FM_RE = re.compile(markdown._FM_RE)


def _parse_markdown_file(path: str, url_prefix: str):
    """One file → (md, keywords, url, metadata) with the contract's
    defaulting rules. Pure function so the reader and tests share it."""
    with open(path, encoding="utf-8") as fh:
        raw = fh.read()
    md, fm = raw, None
    m = _FM_RE.match(raw)
    if m:
        # fence always strips on a pattern match — a YAML failure only
        # resets the metadata (common.py:116-131; md_test.py '\t url:')
        md, fm = m.group(2), markdown.front_matter(m.group(1))
    keywords, url, metadata = fm or (None, None, None)
    # default only on MISSING keywords (reference: metadata.get with a
    # stem default) — an explicit empty string stays empty, matching the
    # expression reader's NULL-only coalesce
    return (
        md,
        os.path.splitext(os.path.basename(path))[0] if keywords is None else keywords,
        url_prefix + os.path.abspath(path) if url is None else url,
        metadata,
    )


class _FilesPartition(InputPartition):
    def __init__(self, files: list[str]):
        self.files = files


class MarkdownFolderDataSource(DataSource):
    """``spark.read.format("wurzel_markdown").load(dir)`` →
    MarkdownDataContract rows. Options: ``urlPrefix`` (default ""),
    ``filesPerPartition`` (default 64), ``fileList`` (comma-separated
    explicit paths, bypassing the directory walk)."""

    @classmethod
    def name(cls) -> str:
        return "wurzel_markdown"

    def schema(self) -> str:
        return "md string, keywords string, url string, metadata map<string,string>"

    def reader(self, schema) -> "_MarkdownReader":
        return _MarkdownReader(self.options)


class _MarkdownReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.url_prefix = options.get("urlPrefix", options.get("urlprefix", ""))
        self.per_part = int(
            options.get("filesPerPartition", options.get("filesperpartition", 64))
        )
        self.file_list = options.get("fileList", options.get("filelist"))

    def partitions(self):
        if self.file_list:
            files = sorted(p for p in self.file_list.split(",") if p)
        else:
            if not self.path:
                raise ValueError("wurzel_markdown: provide load(path) or fileList")
            files = []
            for root, _dirs, names in os.walk(self.path):
                files.extend(
                    os.path.join(root, n) for n in names if n.endswith(".md")
                )
            files.sort()
        n = max(self.per_part, 1)
        chunks = [files[i : i + n] for i in range(0, len(files), n)]
        return [_FilesPartition(c) for c in chunks] or [_FilesPartition([])]

    def read(self, partition: _FilesPartition) -> Iterator[tuple]:
        for path in partition.files:
            yield _parse_markdown_file(path, self.url_prefix)


def register(spark) -> None:
    """Idempotently register the format with a session."""
    spark.dataSource.register(MarkdownFolderDataSource)
