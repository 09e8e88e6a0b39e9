"""lsh_param_sweep — S-curve calibration fixture tests: exact-dup pairs
collide in every config, disjoint docs in none, and the join-cost curve
is monotone in r (stricter bands ⇒ fewer candidate slots)."""

from pyspark.sql import functions as F

from wurzel_spark.operators.dedup import LSH_SWEEP_CONFIGS, lsh_param_sweep


def _corpus(spark):
    # 10 exact-duplicate pairs (jaccard 1.0) + 40 pairwise-disjoint docs
    rows = []
    for i in range(10):
        text = " ".join(f"dup{i}w{k}" for k in range(30))
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text))
    for i in range(40):
        rows.append((100 + i, " ".join(f"uniq{i}w{k}" for k in range(30))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sweep_grid_complete_and_monotone(spark):
    out = {(r["b"], r["r"]): r.asDict() for r in lsh_param_sweep(_corpus(spark)).collect()}
    assert set(out) == set(LSH_SWEEP_CONFIGS)
    # identical docs share every band: each of the 7 configs must count
    # at least b slots for the 10 dup pairs → slots >= 10*b (collisions
    # of unique docs can only add)
    for (b, r), d in out.items():
        assert d["candidate_pair_slots"] >= 10 * b, (b, r, d)
        assert d["max_bucket"] >= 2
    # monotone join cost: more rows per band (stricter) ⇒ fewer slots
    by_r = sorted(out.values(), key=lambda d: d["r"])
    slots = [d["candidate_pair_slots"] for d in by_r]
    assert slots == sorted(slots, reverse=True), slots


def test_sweep_thresholds_monotone_in_r(spark):
    out = lsh_param_sweep(_corpus(spark)).orderBy("r", "b").collect()
    th = [r["threshold_permille"] for r in out]
    assert th == sorted(th), th  # stricter configs target higher jaccard
    assert th[0] < 300 and th[-1] > 800  # the grid spans the S-curve


def test_sweep_kernel_emits_no_band_hashes(spark, monkeypatch):
    """The sweep reads only the signature, so the kernel it calls folds
    no band hashes."""
    from wurzel_spark.operators import dedup

    kernel, seen = dedup._signatures, []

    def spy(*args, **kwargs):
        out = kernel(*args, **kwargs)
        seen.append(out.columns)
        return out

    monkeypatch.setattr(dedup, "_signatures", spy)
    lsh_param_sweep(_corpus(spark)).collect()
    assert seen == [["id", "signature"]]
