"""The near-dup core's driver twin against its distributed twin.

Below the driver-input gate, ``minhash_dedup_pairs``, ``simhash_near_pairs``
and ``combined_near_dup_pairs`` run as numpy on the driver
(``dedup._near_pairs_driver``). Each input here is one the fixtures never
contain; on every one the three entry points return the same rows, in the
same order, with gates on and forced off.
"""

import numpy as np
import pandas as pd
import pytest

from wurzel_spark.operators import common, dedup

BASE = " ".join(f"tok{i}" for i in range(60))
NEAR = " ".join(f"tok{i}" for i in range(58)) + " changed tail"
OTHER = " ".join(f"other{i}" for i in range(60))

CASES = {
    "empty_blank_and_short": [
        (1, BASE), (2, NEAR), (3, ""), (4, "   "), (5, "\n\t"), (6, ""),
        (7, "a b"), (8, "a b"), (9, "a"), (10, "a"), (11, "x y z"), (12, "x y z"),
    ],
    "negative_ids": [
        (-(2**62), BASE), (-7, NEAR), (-1, OTHER), (0, BASE), (5, "short dup"),
        (-5, "short dup"),
    ],
    "null_text": [
        (1, BASE), (2, None), (3, NEAR), (4, None), (5, OTHER), (6, ""),
    ],
    "null_ids": [
        (None, BASE), (None, BASE), (1, BASE), (2, NEAR), (3, OTHER),
    ],
    "duplicate_ids": [
        (1, BASE), (1, NEAR), (2, BASE), (3, NEAR), (3, NEAR), (4, OTHER),
        (4, ""), (5, None), (5, BASE),
    ],
    "no_rows": [],
}

ENTRIES = {
    "minhash": lambda df: dedup.minhash_dedup_pairs(df, threshold=0.5),
    "simhash": lambda df: dedup.simhash_near_pairs(df, max_hamming=3),
    "combined": lambda df: dedup.combined_near_dup_pairs(df),
}


def _frame(spark, rows, id_type="long"):
    """A local relation (a list of rows would become an RDD, whose size
    Catalyst cannot estimate, so it never passes the input gate; so would
    an empty pandas frame, hence the limit)."""
    if not rows:
        return _frame(spark, [(0, "")], id_type).limit(0)
    ids = [r[0] for r in rows]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(ids, dtype="Int64") if id_type == "long" else ids,
            "text": pd.array([r[1] for r in rows], dtype="string"),
        }
    )
    return spark.createDataFrame(pdf, f"doc_id {id_type}, text string")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _sorted(rows):
    # duplicate ids give equal (id_a, id_b) keys whose order is free
    return sorted(rows, key=repr)


@pytest.mark.parametrize("case", sorted(CASES))
def test_twin_equals_distributed_path(spark, gates_off, case):
    df = _frame(spark, CASES[case])
    assert dedup._near_pairs_driver(df, "doc_id", "text", ("minhash", "simhash")) is not None
    for name, entry in ENTRIES.items():
        on = entry(df)
        with gates_off():
            off = entry(df)
            off_rows = _rows(off)
        assert on.schema.simpleString() == off.schema.simpleString(), name
        assert _sorted(_rows(on)) == _sorted(off_rows), name
        if name != "combined" and case != "duplicate_ids":
            assert _rows(on) == off_rows, name  # sorted by (id_a, id_b) both ways


def test_twin_keeps_string_ids_and_their_order(spark, gates_off):
    rows = [(f"doc-{i}", t) for i, t in [(9, BASE), (10, NEAR), (2, BASE), (3, OTHER)]]
    df = _frame(spark, rows, "string")
    for name, entry in ENTRIES.items():
        on = _rows(entry(df))
        with gates_off():
            off = _rows(entry(df))
        assert _sorted(on) == _sorted(off) and on, name
    assert _rows(ENTRIES["minhash"](df))[0][:2] == ("doc-10", "doc-2")


def test_planted_pairs_survive_on_the_driver(spark):
    got = _rows(ENTRIES["combined"](_frame(spark, CASES["negative_ids"])))
    pairs = {(m, a, b) for a, b, m, _ in got}
    assert ("minhash", -(2**62), 0) in pairs and ("simhash", -(2**62), 0) in pairs
    assert ("minhash", -5, 5) in pairs  # identical short docs: one whole-run shingle


def test_identical_documents_fall_through_before_building_pairs(spark, monkeypatch):
    """800 identical documents share every band bucket: the band join
    would build 4·C(800, 2) > DRIVER_MAX_EDGES pairs for SimHash alone
    (8· for MinHash), so the twin counts them from the bucket sizes and
    falls through without building any."""
    df = _frame(spark, [(i, BASE) for i in range(800)])

    def no_pairs(*a):
        raise AssertionError("a pair list was built above the candidate gate")

    monkeypatch.setattr(dedup, "_bucket_pairs", no_pairs)
    for families in (("minhash",), ("simhash",), ("minhash", "simhash")):
        assert dedup._near_pairs_driver(df, "doc_id", "text", families) is None


def test_candidate_fall_through_returns_the_distributed_rows(spark, gates_off, monkeypatch):
    df = _frame(spark, [(i, BASE) for i in range(12)] + [(20, NEAR), (21, OTHER)])
    asked = []
    real = common.fits

    def spy(size, limit):
        asked.append((size, limit))
        return real(size, limit)

    monkeypatch.setattr(common, "DRIVER_MAX_EDGES", 50)
    monkeypatch.setattr(common, "fits", spy)
    for name, entry in ENTRIES.items():
        asked.clear()
        on = _rows(entry(df))
        assert [s for s, lim in asked if lim == 50][0] > 50, name
        with gates_off():
            off = _rows(entry(df))
        assert _sorted(on) == _sorted(off) and on, name


def test_bucket_pairs_match_brute_force():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 4, size=(40, 3))
    buckets = dedup._buckets(keys)
    lo, hi = dedup._bucket_pairs(buckets, len(keys))
    want = sorted(
        (i, j)
        for i in range(len(keys))
        for j in range(i + 1, len(keys))
        if (keys[i] == keys[j]).any()
    )
    assert sorted(zip(lo.tolist(), hi.tolist())) == want
    same = sum((keys[i, b] == keys[j, b]) for b in range(3) for i in range(40) for j in range(i + 1, 40))
    assert dedup._bucket_pair_count(buckets) == same


def test_set_jaccard_matches_python_sets_in_small_probe_batches(monkeypatch):
    rng = np.random.default_rng(3)
    sets = [np.unique(rng.integers(-20, 20, size=rng.integers(1, 15))) for _ in range(30)]
    vals = np.concatenate(sets)
    offs = np.r_[0, np.cumsum([len(s) for s in sets])]
    ra, rb = rng.integers(0, 30, 200), rng.integers(0, 30, 200)
    monkeypatch.setattr(dedup, "_PROBE_BATCH", 7)
    got = dedup._set_jaccard(vals, offs, ra, rb)
    for g, a, b in zip(got, ra, rb):
        sa, sb = set(sets[a].tolist()), set(sets[b].tolist())
        assert g == len(sa & sb) / len(sa | sb)


def test_popcount_is_bit_count():
    x = np.array([0, -1, 1, 2**62 + 5, -(2**63), 0x0F0F], dtype=np.int64)
    want = [bin(int(v) & (2**64 - 1)).count("1") for v in x]
    assert dedup._popcount64(x).tolist() == want
