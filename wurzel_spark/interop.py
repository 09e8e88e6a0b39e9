"""Reference-artifact interop: read/write the reference's on-disk formats.

The reference persists its data contracts between steps as files
(SURVEY §1.1, §3.1):
  - ``PydanticModel`` rows → ONE ``.json`` file holding a JSON array of
    records (wurzel/datacontract/datacontract.py:136-156); the central
    ``MarkdownDataContract`` is ``{md, keywords, url, metadata}``
    (wurzel/datacontract/common.py:80-85).
  - ``PanderaDataFrameModel`` tables → ``.csv`` via pandas ``to_csv``
    (datacontract.py:78-85), where list/dict cells are stringified Python
    literals; ``load_from_path`` re-parses them with ``literal_eval``
    (datacontract.py:96-115) — e.g. ``EmbeddingResult.vector`` round-trips
    as ``"[0.1, 0.2]"``.

These helpers make a reference user's existing artifact directories
readable by this engine (and our outputs readable by theirs) without a
conversion step. Internally stages still exchange Parquet (stage.py) —
these formats are boundary interop, not the scale path: a JSON-array file
is a single unsplittable blob, so the array reader is for reference-sized
artifacts (the reference itself holds each file in memory,
base_executor.py:262-309); at scale write JSON Lines, which Spark splits.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wurzel_spark.manifest import save_sorted

MARKDOWN_CONTRACT_SCHEMA = T.StructType(
    [
        # all-nullable: file sources cannot enforce non-null; the contract
        # validator (contracts.py) is where null checks run
        T.StructField("md", T.StringType(), True),
        T.StructField("keywords", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def read_contract_json(
    spark: SparkSession, path: str, schema: T.StructType = MARKDOWN_CONTRACT_SCHEMA
) -> DataFrame:
    """Read reference ``.json`` artifacts (a JSON ARRAY of records per
    file) into a typed DataFrame. ``path`` may be one file or a directory
    of per-step outputs (the executor writes one file per input,
    base_executor.py:228-247). ``multiLine`` handles the array form —
    each file becomes one task, matching the reference's per-file model.
    """
    return spark.read.schema(schema).option("multiLine", "true").json(path)


def write_contract_json(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Write rows in the reference's artifact form.

    ``single_file=True`` emits ONE JSON array (the reference's exact
    on-disk shape, sorted by first column for the determinism contract) —
    driver-side, so only for reference-scale artifacts. Otherwise writes
    sorted JSON Lines parts, which Spark/DuckDB split and stream.
    """
    first = df.columns[0]
    if single_file:
        rows = [r.asDict(recursive=True) for r in df.orderBy(first).collect()]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, ensure_ascii=False, sort_keys=True)
    else:
        save_sorted(df, path, "json")


def _string_bearing(dt: T.DataType) -> bool:
    """True if any leaf of a (possibly nested) complex type is a string —
    the case where a cell's Python literal may contain quotes/apostrophes
    that a naive '→" rewrite would corrupt."""
    if isinstance(dt, T.StringType):
        return True
    if isinstance(dt, T.ArrayType):
        return _string_bearing(dt.elementType)
    if isinstance(dt, T.MapType):
        return _string_bearing(dt.keyType) or _string_bearing(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_string_bearing(f.dataType) for f in dt.fields)
    return False


@F.pandas_udf(T.StringType())
def _pyliteral_to_json(cells: "pd.Series") -> "pd.Series":
    """Python-literal cell → canonical JSON string (the reference's
    ``literal_eval`` semantics, datacontract.py:96-115) so ``from_json``
    can finish the parse JVM-side. Handles apostrophes inside strings,
    escaped quotes, None/True/False, tuples. Unparseable cells pass
    through unchanged (from_json then yields NULL, matching the
    reference's failure mode)."""
    import ast

    def conv(s):
        if s is None:
            return None
        try:
            return json.dumps(ast.literal_eval(s))
        except (ValueError, SyntaxError):
            return s

    return cells.map(conv)


def read_pandera_csv(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read a reference ``.csv`` artifact into ``schema``, re-parsing
    stringified array/struct/map cells (pandas ``to_csv`` writes Python
    literals; the reference re-parses with ``literal_eval``,
    datacontract.py:96-115).

    Numeric-only complex columns (e.g. ``EmbeddingResult.vector``) are
    parsed entirely JVM-side with ``from_json`` — their literals contain
    no quotes, so they are already valid JSON. String-bearing complex
    columns go through an Arrow-batched ``literal_eval``→JSON kernel
    first: a blanket '→" rewrite would corrupt any cell containing an
    apostrophe (``"it's"``) or an escaped quote, which the reference's
    ``literal_eval`` handles fine.
    """
    str_fields = [
        T.StructField(f.name, T.StringType() if not isinstance(f.dataType, (T.StringType,)) else f.dataType, True)
        for f in schema.fields
    ]
    # pandas to_csv escapes embedded quotes by DOUBLING them (RFC 4180);
    # Spark's default escape is backslash — set escape='"' to match.
    raw = (
        spark.read.option("header", "true")
        .option("escape", '"')
        .schema(T.StructType(str_fields))
        .csv(path)
    )
    out = []
    for f in schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            if _string_bearing(f.dataType):
                out.append(F.from_json(_pyliteral_to_json(c), f.dataType).alias(f.name))
            else:
                out.append(F.from_json(c, f.dataType).alias(f.name))
        else:
            out.append(c.cast(f.dataType).alias(f.name))
    return raw.select(*out)


def write_pandera_csv(df: DataFrame, path: str) -> None:
    """Write a DataFrame as the reference's pandas-style CSV: complex cells
    stringified as JSON (which ``literal_eval`` accepts for list/number
    content), sorted by first column, single header file.
    """
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    flat = df.select(*cols).orderBy(df.columns[0])
    pdf = flat.toPandas()  # reference artifacts are single-file by contract
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pdf.to_csv(path, index=False)
