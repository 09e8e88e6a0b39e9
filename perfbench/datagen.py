"""Deterministic synthetic tables in the shape the queries read.

The ten tables of ``wurzel_spark.tables.TABLE_NAMES`` (a TPC-H-like star
schema, an ``events`` stream and the ``documents``/``embeddings`` corpora),
one parquet file each, generated from a fixed seed with numpy so that the
recorded result digests stay valid. Row counts scale with ``sf`` like the
reference test data (sf0.01: 60 000 lineitems, 500 documents).

Documents are whitespace-separated words from a 30-word vocabulary; about
one in twenty is a copy of an earlier document with `` dup`` appended, so
the near-duplicate queries and the pipeline's near-dup step find pairs.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_VOCAB = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small line customer query big filter "
    "stream merge sort group vector"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large"]
_NOUNS = ["widget", "bolt", "ring", "gear", "nut", "spring"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(n: int, rng) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": [
                    f"{c} {w}"
                    for c, w in zip(
                        rng.choice(_COLORS, n_part), rng.choice(_NOUNS, n_part)
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
                "o_totalprice": _money(1000, 500_000, n_ord, rng),
                "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(900, 105_000, n_li, rng),
                "l_discount": rng.integers(0, 11, n_li) / 100,
                "l_tax": rng.integers(0, 9, n_li) / 100,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
                "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
                "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), i64),
                "ts": np.sort(
                    np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
                "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
                "value": np.maximum(np.round(rng.exponential(30.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(n_docs, rng),
    }
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def ensure(root: str, sf: float) -> str:
    """Directory holding the tables at ``sf`` under ``root``; generated on
    first use and written atomically, so an interrupted run leaves none."""
    path = os.path.join(root, f"sf{sf}")
    if os.path.isdir(path):
        return path
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=root)
    try:
        for name, tbl in tables(sf).items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
