"""Text Column builders — pure `pyspark.sql.functions` compositions.

Everything here compiles into whole-stage codegen (no Python in the hot
path). The rules the DuckDB oracles share have their SQL twin here too,
each beside its Spark form: :func:`words_sql` (the tokenizer),
:func:`markers_sql` (marker-word hits), :func:`permille_sql` (the
integer score, e.g. the stopword density q1000) and :func:`sql_list`
(a list literal's items). An oracle renders these rules through the
fragments, never by hand (guard:
``test_contract_consistency.py::test_oracle_rules_are_written_once``).

Reference parity (SURVEY §2.8): whitespace tokenizer
(wurzel/steps/embedding/step.py:35,172-175), content hashes
(wurzel/steps/qdrant/step.py:259-283), keyword list parse
(wurzel/datacontract/common.py:150), per-doc metrics (common.py:149-157).

Every text operator builds on three primitives, each written once:

- :func:`words` — the whitespace tokenizer (:func:`word_count` is its
  size);
- ``operators/dedup._word_hashes`` — xxhash64 per word occurrence, read
  through ``_word_hash_frame`` by every near-dup and span pass;
- :func:`windows` — ``f`` over every n-word window of a word array, with
  the caller's short-document rule (:func:`bigrams` is its two-column
  zip form for the (w1, w2) streams).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_ws(col: Column) -> Column:
    """Collapse runs of whitespace to single spaces and trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def words(col: Column) -> Column:
    """Whitespace tokenization → array<string>. Empty/blank input → []."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda w: w != "")


def words_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`words` over the SQL expression ``col``.
    Spark splits on Java's ``\\s``, which includes the vertical tab;
    RE2's ``\\s`` does not, so the class names ``\\v`` as well."""
    v = "w" if col == "x" else "x"
    return f"list_filter(regexp_split_to_array(trim({col}), '[\\s\\v]+'), {v} -> {v} != '')"


def word_count(col: Column) -> Column:
    return F.size(words(col))


def windows(ws, n, f, short: Column | None = None) -> Column:
    """``f(slice(ws, i, n))`` for every n-word window, i = 1 … size(ws)−n+1,
    in document order. ``ws`` is a word array (a column, a column name or
    a let-bound lambda variable: a captured expression re-evaluates per
    window); ``n`` is an int or an int column. Spark's ``sequence(1, 0)``
    counts DOWN, so an array shorter than ``n`` gets ``short`` instead —
    an empty array, or ``f`` of the whole run — and with ``short=None``
    the caller must have dropped those rows up front."""
    k = F.size(ws) - (n - 1)
    grams = F.transform(F.sequence(F.lit(1), k), lambda i: f(F.slice(ws, i, n)))
    return grams if short is None else F.when(k > 0, grams).otherwise(short)


def bigrams(ws) -> Column:
    """array<struct<w1, w2>> of a word array's adjacent pairs — the
    two-slice zip (no window loop); the caller drops arrays of < 2 words."""
    return F.arrays_zip(
        F.slice(ws, 1, F.size(ws) - 1).alias("w1"),
        F.slice(ws, 2, F.size(ws) - 1).alias("w2"),
    )


def char_len(col: Column) -> Column:
    return F.length(col)


def line_count(col: Column) -> Column:
    """Number of lines (md_line_count, common.py:153)."""
    return F.size(F.split(col, "\n"))


def keywords_count(col: Column) -> Column:
    """Count of non-blank comma-separated keywords (common.py:150)."""
    return F.size(F.filter(F.split(col, ","), lambda k: F.trim(k) != ""))


def sha256_hex(col: Column) -> Column:
    """Content hash (qdrant/step.py:282, semantic_splitter.py:808-811)."""
    return F.sha2(col, 256)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: sha256 over lowercased, whitespace-normalized
    text — stable under formatting-only edits.
    """
    return sha256_hex(normalize_ws(F.lower(col)))


def replace_urls(col: Column, token: str = "LINK") -> Column:
    """URL → sentinel replacement (embedding/step.py:214-233, URL regex :36)."""
    return F.regexp_replace(col, r"https?://\S+", token)


def strip_markdown(col: Column) -> Column:
    """Markdown → plain text, regex approximation of
    wurzel/steps/embedding/step.py:187-212 (strip headings, emphasis,
    links→text, images, code fences, tables pipes).
    """
    c = F.regexp_replace(col, r"```[\s\S]*?```", " ")  # code fences
    c = F.regexp_replace(c, r"!\[[^\]]*\]\([^)]*\)", " ")  # images
    c = F.regexp_replace(c, r"\[([^\]]*)\]\([^)]*\)", r"$1")  # links → text
    c = F.regexp_replace(c, r"(?m)^#{1,6}\s+", "")  # headings
    c = F.regexp_replace(c, r"[*_`|>]+", " ")  # emphasis/table/quote chars
    return normalize_ws(c)


def first_heading(col: Column) -> Column:
    """First `# ` heading (decagon/step.py:100-103, docling_step.py:92-109)."""
    return F.regexp_extract(col, r"(?m)^# (.+)$", 1)


def marker_words_count(col: Column, markers: tuple[str, ...]) -> Column:
    """Total occurrences of any of ``markers`` as whole (whitespace-
    delimited) words. One pass over the word ARRAY — the padded-string
    ``replace``-count trick needed a full string scan PER marker and
    undercounted adjacent repeats ("the the" counted once: the shared
    space is consumed by the first non-overlapping match)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words(col), lambda w: F.array_contains(arr, w)))


def sql_list(items) -> str:
    """``'a', 'b', …``: the items of a SQL list literal (no quote in any
    item)."""
    return ", ".join(f"'{s}'" for s in items)


def markers_sql(ws: str, markers: tuple[str, ...]) -> str:
    """DuckDB twin of :func:`marker_words_count` over a word-list
    expression ``ws``."""
    return f"len(list_filter({ws}, w -> list_contains([{sql_list(markers)}], w)))"


def permille(num: str, den: str) -> Column:
    """``floor(1000 · num / den)`` of two integer columns, 0 where ``den``
    is 0: exact integer floor-div (Spark ``div``). The stopword-density
    score q1000 is ``permille`` of stopword hits over words."""
    return F.when(F.col(den) > 0, F.expr(f"(1000 * {num}) div {den}")).otherwise(F.lit(0))


def permille_sql(num: str, den: str) -> str:
    """DuckDB twin of :func:`permille` (``//`` floor-div)."""
    return f"CASE WHEN {den} > 0 THEN (1000 * {num}) // {den} ELSE 0 END"
