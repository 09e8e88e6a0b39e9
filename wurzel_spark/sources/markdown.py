"""Markdown folder source → MarkdownDataContract DataFrame.

Reference parity: ManualMarkdownStep (wurzel/steps/manual_markdown.py:17-23)
+ MarkdownDataContract.from_file (wurzel/datacontract/common.py:101-147,
front-matter regex common.py:17):

  - reads every ``*.md`` under a folder (recursive)
  - optional YAML front-matter between ``---`` fences supplies
    keywords/url/metadata; invalid YAML falls back to whole-body-as-md
    (common.py:117-131); deprecated ``topics`` key maps to keywords
    (common.py:133-139)
  - defaults: url = prefix + absolute path, keywords = filename stem
    (common.py:140-146)

Spark-first shape: ``spark.read.text(wholetext=True)`` gives one row per
file — Spark parallelizes the directory listing and file reads; the
front-matter split runs as JVM regex; only the YAML parse is a (vectorized)
pandas UDF, because YAML needs a real parser.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: front-matter pattern (common.py:17): ---\n<yaml>\n---\n<body>
_FM_RE = r"(?s)\A---\s*\n(.*?)\n---\s*\n(.*)\Z"

_META_SCHEMA = T.StructType(
    [
        T.StructField("keywords", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def front_matter(yaml_text: str) -> tuple[str | None, str | None, dict | None] | None:
    """Front-matter YAML → (keywords, url, metadata), or None when it does
    not parse to a mapping or a value does not convert (invalid YAML: the
    contract's defaults apply, common.py:117-131). The deprecated
    ``topics`` key maps to keywords (common.py:133-139); nested metadata
    values are JSON-encoded. Pure, so both markdown readers (this module's
    and ``sources/datasource.py``'s) apply the same rule."""
    import yaml

    try:
        data = yaml.safe_load(yaml_text) if yaml_text else None
        if not isinstance(data, dict):
            return None
        kw = data.get("keywords", data.get("topics"))
        meta = data.get("metadata")
        return (
            str(kw) if kw is not None else None,
            str(data["url"]) if data.get("url") is not None else None,
            {
                str(k): json.dumps(v) if isinstance(v, (dict, list)) else str(v)
                for k, v in meta.items()
            }
            if isinstance(meta, dict)
            else None,
        )
    except Exception:
        return None


@F.pandas_udf(_META_SCHEMA)
def _parse_front_matter(yaml_text: pd.Series) -> pd.DataFrame:
    """YAML front-matter → (keywords, url, metadata, valid) through
    :func:`front_matter`. Vectorized over Arrow batches; one yaml.safe_load
    per document (cheap — front matter is a few lines)."""
    out = []
    for txt in yaml_text:
        fm = front_matter(txt)
        keywords, url, metadata = fm or (None, None, None)
        out.append(
            {"keywords": keywords, "url": url, "metadata": metadata, "valid": fm is not None}
        )
    return pd.DataFrame(out)


def read_markdown_folder(
    spark: SparkSession, path: str, url_prefix: str = ""
) -> DataFrame:
    """Read a folder of ``.md`` files into the MarkdownDataContract schema
    {md, keywords, url, metadata}.
    """
    raw = (
        spark.read.option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.md")
        .text(path, wholetext=True)
        .select(
            F.col("value").alias("raw"),
            F.input_file_name().alias("file_path"),
        )
    )
    fm_yaml = F.regexp_extract("raw", _FM_RE, 1)
    fm_body = F.regexp_extract("raw", _FM_RE, 2)
    stem = F.regexp_extract("file_path", r"([^/]+)\.md$", 1)
    parsed = raw.select(
        "raw",
        "file_path",
        stem.alias("stem"),
        fm_body.alias("body"),
        _parse_front_matter(fm_yaml).alias("fm"),
    )
    # The reference strips the front-matter FENCE whenever the pattern
    # matches, even if the YAML inside fails to parse (common.py:116-131:
    # md_body comes from the regex groups; a YAMLError only resets the
    # metadata dict) — so the body choice keys on the MATCH, while the
    # keywords/url/metadata defaults key on the PARSE.
    matched = F.col("raw").rlike(_FM_RE)
    use_fm = F.col("fm.valid")
    return parsed.select(
        F.when(matched, F.col("body")).otherwise(F.col("raw")).alias("md"),
        F.coalesce(
            F.when(use_fm, F.col("fm.keywords")), F.col("stem")
        ).alias("keywords"),
        F.coalesce(
            F.when(use_fm, F.col("fm.url")),
            # file:///abs/path → /abs/path (single leading slash — the
            # contract's "absolute path" default, common.py:140-146)
            F.concat(F.lit(url_prefix), F.regexp_replace("file_path", r"^file:/+", "/")),
        ).alias("url"),
        F.when(use_fm, F.col("fm.metadata")).alias("metadata"),
    )


def doc_metrics(df: DataFrame) -> DataFrame:
    """Per-doc metrics {md_char_len, md_line_count, keywords_count}
    (common.py:149-157) as a projection.
    """
    return df.select(
        "url",
        F.length("md").alias("md_char_len"),
        F.size(F.split("md", "\n")).alias("md_line_count"),
        F.size(F.filter(F.split("keywords", ","), lambda k: F.trim(k) != "")).alias(
            "keywords_count"
        ),
    )
