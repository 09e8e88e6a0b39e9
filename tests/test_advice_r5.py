"""Regression tests for the round-5 ADVICE findings.

Each test pins the FIXED behavior against the advisor's failure scenario:
novelty drain under at-least-once redelivery, percentile-gate NULL-source
plan agreement, builtin-PNG failure modes + decode caps, and convergence
detection exactly at the round budget.
"""

import struct
import zlib

import pytest
from pyspark.sql import functions as F


def test_novelty_drain_dedups_redelivered_batch(spark, tmp_path):
    """ADVICE r5 #1: after a fold commits, an at-least-once redelivery
    re-writes an already-folded batch under batch=N. The drain must
    key-dedup (id, shingle) so novelty is NOT silently halved."""
    from wurzel_spark.operators.dedup import ngram_novelty, shingle_hashes
    from wurzel_spark.streaming._fs import list_batch_ids
    from wurzel_spark.streaming._state import write_batch_state
    from wurzel_spark.streaming.novelty import drain_novelty_state

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
            (4, "one two three something else entirely new"),
        ],
        "doc_id long, text string",
    )

    def shingles_of(batch):
        return batch.select(
            F.col("doc_id").alias("id"),
            F.explode(shingle_hashes(F.col("text"), 3)).alias("shingle"),
        )

    state = str(tmp_path / "nov_state")
    batches = [docs.filter(F.col("doc_id").isin(ids)) for ids in ([1, 2], [3], [4])]
    for i, b in enumerate(batches):
        write_batch_state(spark, shingles_of(b), state, i, ["id", "shingle"], 3)
    # batch 2 triggered the fold → only the folded negative partition left
    assert all(b < 0 for b in list_batch_ids(spark, state))
    # redeliver batch 1 (foreachBatch retry after the fold committed):
    # its rows now exist BOTH in the folded partition and under batch=1
    write_batch_state(spark, shingles_of(batches[1]), state, 1, ["id", "shingle"], 3)
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in drain_novelty_state(spark, state).collect()
    }
    exp = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in ngram_novelty(docs).collect()
    }
    assert got == exp  # doc 3 in particular: not double-counted


def test_percentile_gate_null_source_same_output_both_plans(spark, gates_off):
    """ADVICE r5 #2: NULL source rows must survive the two-phase bucketed
    plan exactly as the plain per-source window treats them (their own
    partition), not be dropped by null join keys."""
    from wurzel_spark.operators import selection as S

    rows = []
    for i in range(40):
        src = None if i % 4 == 0 else f"s{i % 3}"
        text = " ".join(["the", "a", "of"] * (i % 5 + 1) + ["filler"] * 8)
        rows.append((i, src, text))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    two = {
        (r["doc_id"], r["source"], r["src_pctile"])
        for r in S.quality_percentile_gate(docs, keep_frac=0.6).collect()
    }
    with gates_off():
        plain = {
            (r["doc_id"], r["source"], r["src_pctile"])
            for r in S.quality_percentile_gate(docs, keep_frac=0.6).collect()
        }
    assert two == plain
    assert any(src is None for _, src, _ in two)  # null partition kept


def _png_header_only(w, h, ct):
    def chunk(typ, data):
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))
        + chunk(b"IEND", b"")
    )


def test_png_palette_raises_documented_not_keyerror():
    """ADVICE r5 #3b: ct=3 (palette) must fail with the DOCUMENTED
    NotImplementedError, not a bare KeyError."""
    from wurzel_spark.operators.multimodal import _png_pixels

    with pytest.raises(NotImplementedError, match="palette"):
        _png_pixels(_png_header_only(4, 4, 3))


def test_png_oversize_refused_before_python_filter_loops():
    """ADVICE r5 #3a: the builtin decoder must refuse past its pixel
    budget instead of burning unbounded executor CPU in the per-pixel
    Python filter loops (checked at IHDR, before any decompression)."""
    from wurzel_spark.operators.multimodal import _MAX_DECODE_PIXELS, _png_pixels

    with pytest.raises(NotImplementedError, match="decode budget"):
        _png_pixels(_png_header_only(1 << 16, (_MAX_DECODE_PIXELS >> 16) + 1, 2))


def test_real_decode_decimates_to_max_pixels():
    """ADVICE r5 #3a: decode_images' max_pixels caps the feature surface —
    an over-cap image comes back decimated, aspect preserved."""
    import numpy as np

    from wurzel_spark.operators.multimodal import _png_encode, _real_pixels

    px = np.arange(64 * 64 * 3, dtype=np.uint8).reshape(64, 64, 3)
    content = _png_encode(px)
    small = _real_pixels(content, max_pixels=256)
    assert small.shape == (16, 16, 3)
    # under-cap passes through untouched
    full = _real_pixels(content, max_pixels=64 * 64)
    assert full.shape == (64, 64, 3) and (full == px).all()


def test_convergence_detected_exactly_at_round_budget(spark, gates_off):
    """ADVICE r5 #4: a graph whose labels reach the fixed point exactly on
    round max_iters must be reported CONVERGED (equality is only
    observable one round later) — strict mode must not raise on a
    complete, correct labeling. A single edge needs exactly 1 improving
    round, so max_iters=1 is the boundary case."""
    from wurzel_spark.operators import dedup as D

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with gates_off():  # force the distributed path
        out = {
            (r["doc_id"], r["cluster_id"])
            for r in D.near_dup_cluster_members(pairs, max_iters=1).collect()
        }
    assert out == {(1, 1), (2, 1)}
