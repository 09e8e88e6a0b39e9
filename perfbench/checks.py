"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter

import numpy as np

from perfbench.steps import ID_COL, NGRAM

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _norm(v):
    """A drained value as a plain Python value: NaN as a string, numpy
    scalars as Python scalars, arrays as tuples."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def result_digest(pdf) -> str:
    """Order-insensitive digest of a drained result: columns sorted by name,
    values normalised and rows sorted as in the repository's oracle compare
    (``tools/verify_local.py``), then hashed."""
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def load_digests() -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f)


def check_digest(name: str, pdf, expected: dict[str, str]) -> list[str]:
    got = result_digest(pdf)
    if expected.get(name) != got:
        return [f"{name}: digest {got[:12]} != recorded {str(expected.get(name))[:12]}"]
    return []


# ------------------------------------------------------------- rag_ingest

def shingles(text: str) -> set[tuple[str, ...]]:
    """Word ``NGRAM``-gram set, whitespace-tokenised like
    ``functions.text.words``; a shorter text is one shingle."""
    ws = text.split()
    if len(ws) < NGRAM:
        return {tuple(ws)}
    return {tuple(ws[i : i + NGRAM]) for i in range(len(ws) - NGRAM + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def expected_chunks(bodies: list[str], token_limit: int, buffer: int, minimum: int) -> Counter:
    """Chunk texts the pipeline must produce before near-dup removal: the
    pure-Python splitter over every distinct markdown body."""
    from wurzel_spark.operators.splitter import split_markdown_document

    out: Counter = Counter()
    for md in sorted(set(bodies)):
        for c in split_markdown_document(md, "", "", token_limit, buffer, minimum):
            out[c["md"]] += 1
    return out


def read_collection(root: str, collection: str) -> tuple[str | None, list[str], list[dict], int]:
    """(aliased version, all versions, points of the aliased version, bytes
    of its point files)."""
    from wurzel_spark.sinks.versioned import LocalCollectionBackend

    be = LocalCollectionBackend(root)
    alias = be.get_alias(collection)
    versions = [c for c in be.list_collections() if c.startswith(f"{collection}_v")]
    points: list[dict] = []
    nbytes = 0
    if alias is not None:
        d = os.path.join(root, alias)
        for name in sorted(os.listdir(d)):
            if name.startswith("part-") and name.endswith(".jsonl"):
                path = os.path.join(d, name)
                nbytes += os.path.getsize(path)
                with open(path) as f:
                    points.extend(json.loads(line) for line in f)
    return alias, versions, points, nbytes


def next_version(root: str, collection: str) -> str:
    """The version name the next write of ``collection`` must create."""
    from wurzel_spark.sinks.versioned import LocalCollectionBackend

    versions = LocalCollectionBackend(root).list_collections()
    prefix = f"{collection}_v"
    newest = max((int(v[len(prefix) :]) for v in versions if v.startswith(prefix)), default=0)
    return f"{collection}_v{newest + 1}"


POINT_FIELDS = ("id", "text", "embedding_input_text", "vector", ID_COL)


def check_rag(
    root: str,
    collection: str,
    written: str,
    expected: Counter,
    dim: int,
    history_len: int,
    threshold: float,
) -> list[str]:
    """The aliased collection after one ``rag_ingest`` pass is correct; that
    pass had to create version ``written``."""
    from wurzel_spark.operators.embedding import hash_embedding

    problems: list[str] = []
    alias, versions, points, _ = read_collection(root, collection)
    if alias != written:
        problems.append(f"alias {alias} is not the version this pass wrote, {written}")
    if len(versions) > history_len:
        problems.append(f"{len(versions)} versions retained > {history_len}")
    malformed = sum(1 for p in points if any(k not in p for k in POINT_FIELDS))
    if malformed:
        return problems + [f"{malformed} points lack one of {POINT_FIELDS}"]
    ids = sorted(p["id"] for p in points)
    if ids != list(range(1, len(points) + 1)):
        problems.append("point ids are not dense 1..N")
    for p in points:
        want = np.asarray(hash_embedding(p["embedding_input_text"], dim), np.float32)
        if not np.array_equal(np.asarray(p["vector"], np.float32), want):
            problems.append(f"vector of point {p['id']} != hash_embedding")
            break
    kept = Counter(p["text"] for p in points)
    extra = kept - expected
    if extra:
        problems.append(f"{sum(extra.values())} chunk texts not produced by the splitter")
    kept_sh = [shingles(t) for t in kept]
    for text in (expected - kept).elements():
        sh = shingles(text)
        if not any(jaccard(sh, k) >= threshold for k in kept_sh):
            problems.append(f"dropped chunk has no kept partner: {text[:40]!r}")
            break
    if len({p[ID_COL] for p in points}) != len(points):
        problems.append(f"duplicate {ID_COL} values")
    return problems
