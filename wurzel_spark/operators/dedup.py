"""Deduplication operator family: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the scale path for corpus dedup at 100 TB.

Reference parity: DropDuplicationStep (wurzel/steps/duplication.py:21-51,
default key ["md"]), content-hash identity (datacontract.py:194-206), TLSH
near-dup hashing (wurzel/steps/qdrant/step.py:264-283 — stored but never
joined; here we go further and do the candidate join, per the north star).

Scale notes:
  - exact dedup = map-side sha256 + hash-groupBy: one shuffle on the hash,
    never on the document body (project the hash FIRST, drop text before
    the shuffle).
  - Every near-dup stage starts from one word-hash pass (xxhash64 per
    word, JVM codegen): shingle hashes derive from it, and one map-only
    Arrow kernel turns it into the SimHash and MinHash signatures and the
    LSH band hashes — no shuffle.
  - MinHash-LSH: banding turns all-pairs O(n²) into a join on band keys.
    Candidate verification re-joins only the candidate ids.
  - SimHash: 64-bit signature via per-bit majority vote of token hashes;
    near-dup = identical signature bands (hamming ≤ k via band partitioning).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wurzel_spark.functions import text as TXT
from wurzel_spark.operators import common
from wurzel_spark.tables import table


# ------------------------------------------------------------------ exact

def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the first row per key group (pandas drop_duplicates semantics,
    duplication.py:35-40, made deterministic by ordering on ``order_col`` —
    SURVEY §2.3).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group documents by content hash; emit one row per distinct content
    with the representative (min id) and the copy count.

    At scale: hash projected before the shuffle so only (hash64, id) moves.
    """
    return (
        df.select(F.col(id_col), TXT.sha256_hex(F.col(text_col)).alias("text_sha256"))
        .groupBy("text_sha256")
        .agg(F.min(id_col).alias("representative_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------- shingling

def shingles(text_col, n: int = 3):
    """Distinct word-level n-gram shingles as an array column.

    Built from pure array functions (split → sequence → transform →
    array_distinct) — deterministic, codegen'd, no UDF. The
    transform(array(...)) wrapper let-binds the word array: each window
    would otherwise split the whole document again.
    """
    return F.element_at(
        F.transform(F.array(TXT.words(text_col)), lambda ws: F.array_distinct(_word_grams(ws, n))),
        1,
    )


def _word_grams(ws, n: int):
    """POSITIONAL space-joined word n-grams; an array shorter than ``n``
    yields its whole run joined."""
    return TXT.windows(ws, n, lambda g: F.array_join(g, " "), F.array(F.array_join(ws, " ")))


def _word_hashes(text_col):
    """xxhash64 per word occurrence — the ONLY shape safe as an Arrow-kernel
    argument: a plain transform over the split. Wrapping it in the
    element_at(transform(array(...), ...)) let-binding (as shingle_hashes
    does for JVM-side consumers) breaks Spark 4.1's Python-UDF extraction —
    the UDF silently stays in the Project and dies at runtime with
    INTERNAL_ERROR "Cannot evaluate expression" on any post-first-action
    plan.
    """
    return F.transform(TXT.words(text_col), lambda w: F.xxhash64(w))


def _word_hash_frame(
    df: DataFrame, id_col: str, text_col: str, spread: bool = True
) -> DataFrame:
    """(id, whs): each document's word-hash array — the one corpus pass
    that signatures, shingles and the Jaccard verifier all start from.
    ``spread`` round-robins a small input across the cores first
    (:func:`common.parallelize`); a pull to the driver gains nothing
    from it."""
    if spread:
        df = common.parallelize(df)
    return df.select(F.col(id_col).alias("id"), _word_hashes(F.col(text_col)).alias("whs"))


def _nonempty(wh: DataFrame) -> DataFrame:
    """A :func:`_word_hash_frame` without its zero-word docs. Not a
    filter: Catalyst would push ``size(whs) > 0`` below the spread's
    round-robin into the scan, splitting and hashing every document a
    second time there; an explode of the one-element array is not pushed
    down, so each document's word hashes are computed once."""
    return wh.select("id", F.explode(F.when(F.size("whs") > 0, F.array("whs"))).alias("whs"))


def _gram_hashes(hs, n: int):
    """POSITIONAL n-gram hashes of an ALREADY-hashed word array (``hs`` a
    column or a lambda-bound variable, so the word-hash array is evaluated
    once per row, not once per position); an array shorter than ``n``
    yields the hash of its whole run. xxhash64 over the long slice avoids
    arithmetic overflow under ANSI mode."""
    return TXT.windows(hs, n, F.xxhash64, F.array(F.xxhash64(hs)))


def _shingle_hashes_from(hs, n: int):
    """Distinct shingle hashes: the set form of :func:`_gram_hashes`."""
    return F.array_distinct(_gram_hashes(hs, n))


def shingle_hashes(text_col, n: int = 3):
    """Distinct 64-bit shingle hashes: xxhash64 each WORD once, then combine
    n word hashes with xxhash64 over the slice.

    This is the scale path for every near-dup operator below: each word is
    hashed exactly once (vs. hashing every n-word shingle string), shuffles
    carry 8-byte longs instead of shingle strings, and set ops (intersect /
    distinct) compare primitives. 64-bit collisions are negligible at corpus
    scale (~n²/2⁶⁵ birthday bound). The transform(array(...)) wrapper is a
    let-binding — HOF lambdas re-evaluate captured subexpressions per
    element, and binding the word-hash array avoids O(words²) hashing.
    """
    return _shingle_hashes_from_whs(_word_hashes(text_col), n)


def _shingle_hashes_from_whs(whs_col, n: int = 3):
    """:func:`shingle_hashes`, starting from an ALREADY-computed word-hash
    array column (a :func:`_word_hash_frame`'s ``whs``): shingle_hashes(text)
    IS this expression applied to _word_hashes(text). The transform(array(...))
    wrapper is the same let-binding: the whs expression appears exactly
    once in the plan even after projection collapse inlines it."""
    return F.element_at(
        F.transform(F.array(whs_col), lambda hs: _shingle_hashes_from(hs, n)), 1
    )


def _shingle_set_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None = None,
    wh: DataFrame | None = None,
) -> DataFrame:
    """(id, n, shingle): one row per distinct shingle hash of each
    document, ``n`` the document's set size — the input of
    :func:`_overlap_pairs`. ``wh`` (optional, the :func:`_word_hash_frame`
    of ``df``) is the shared-corpus-pass input (lsh_recall_audit).

    With ``max_df``, shingles in more than that many documents are dropped
    (:func:`_cap_df`) and ``n`` recounts the kept set, so the Jaccard and
    containment denominators match the capped sets."""
    if wh is None:
        wh = _word_hash_frame(df, id_col, text_col)
    base = wh.select("id", _shingle_hashes_from_whs(F.col("whs"), n).alias("arr"))
    sh = base.select("id", F.size("arr").alias("n"), F.explode("arr").alias("shingle"))
    if max_df is None:
        return sh
    from pyspark.sql import Window as W

    return _cap_df(sh, "shingle", max_df).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("id"))
    )


def _cap_df(rows: DataFrame, on: str, max_df: int) -> DataFrame:
    """``rows`` without the ``on`` elements found in more than ``max_df``
    rows — the document-frequency cap on an (id, element) table whose
    elements are distinct per id. Hot elements form a SMALL set (each
    appears in many documents by definition), so they come from a groupBy
    (map-side partial aggregation) and leave through a broadcast
    anti-join; a count-over-window would shuffle every row into element
    partitions just to count them."""
    hot = (
        rows.groupBy(on)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select(on)
    )
    return rows.join(F.broadcast(hot), on, "left_anti")


def _overlap_pairs(rows: DataFrame, on: str = "shingle") -> DataFrame:
    """The one exact set-overlap self-join. ``rows`` holds (id, n, <on>):
    one row per distinct element of each set, ``n`` a per-id value (its
    set size) carried on every row. Returns (id_a, id_b, n_inter, n_a,
    n_b) for every pair id_a < id_b sharing an element, n_inter the count
    of shared elements: explode, equi-join on the element, count per pair.

    Because each row carries ``n``, |A| and |B| ride through the join and
    no size-aggregate join is needed. The join is the shuffle; an element
    in d sets contributes d² join rows (see :func:`_cap_df`)."""
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(b, (F.col(f"a.{on}") == F.col(f"b.{on}")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
    )


def _jaccard_at(pairs: DataFrame, threshold: float, sort: bool) -> DataFrame:
    """(id_a, id_b, jaccard) of overlap counts (id_a, id_b, n_inter, n_a,
    n_b), kept at ``threshold`` and above. Consumers that immediately
    re-shuffle (clustering, keep-set joins) pass sort=False — a global
    sort before another exchange is pure waste."""
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    out = pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)
    return out.orderBy("id_a", "id_b") if sort else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    sort: bool = True,
    max_df: int | None = None,
    wh: DataFrame | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Exact (not approximate): explode distinct shingles, self-join on the
    shingle to count intersections (:func:`_overlap_pairs`), compute
    |A∩B| / (|A|+|B|-|A∩B|). The shingle join is the shuffle; at 100 TB
    you'd pre-filter with MinHash-LSH (below) and use this only to verify
    candidates.

    ``max_df`` guards the quadratic hazard in the self-join: a shingle
    present in d documents contributes d² join rows, so one boilerplate
    phrase shared by 100k docs would alone produce 10¹⁰ rows. With
    ``max_df`` set, shingles whose DOCUMENT frequency exceeds it are
    dropped from both the join and the set sizes (the standard df-cap used
    by production shingle dedup) — results then measure similarity over
    discriminative shingles only, which is why the oracle-checked queries
    leave it off: exactness at test scale, cap documented for real corpora.
    ``wh``: see :func:`_shingle_set_rows`.
    """
    rows = _shingle_set_rows(df, id_col, text_col, n, max_df, wh)
    return _jaccard_at(_overlap_pairs(rows), threshold, sort)


# ---------------------------------------------------- signature kernel

# SplitMix64 finalizer (Steele, Lea & Flood 2014; public domain constants) —
# the seeded hash family for MinHash slots. numpy uint64 arithmetic wraps
# mod 2^64 exactly like the reference C, so the whole family vectorizes.
_SM_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_MIX2 = np.uint64(0x94D049BB133111EB)
_SM_PHI = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    z = z ^ (z >> np.uint64(30))
    z = z * _SM_MIX1
    z = z ^ (z >> np.uint64(27))
    z = z * _SM_MIX2
    return z ^ (z >> np.uint64(31))


def _pad_hash_matrix(arrs) -> tuple[np.ndarray, np.ndarray]:
    """Pack a batch of variable-length int64 hash arrays into a padded
    (rows, max_len) uint64 matrix + validity mask."""
    n = len(arrs)
    w = max((len(a) for a in arrs), default=1) or 1
    H = np.zeros((n, w), dtype=np.uint64)
    M = np.zeros((n, w), dtype=bool)
    for i, a in enumerate(arrs):
        la = len(a)
        if la:
            H[i, :la] = np.asarray(a, dtype=np.int64).view(np.uint64)
            M[i, :la] = True
    return H, M


def _shingle_rows(H: np.ndarray, M: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise word-level n-gram shingle hashes from a padded word-hash
    matrix: shingle j = splitmix64 rolling mix of H[j..j+n-1]. Rows with
    fewer than n words degenerate to one whole-row shingle (mirroring
    :func:`shingles`' semantics). Returns a padded (rows, max_shingles)
    uint64 matrix + mask. Duplicate shingles are NOT removed — min() is
    duplicate-insensitive, so MinHash needs no distinct.
    """
    nrows, w = H.shape
    lens = M.sum(axis=1)
    k = w - (n - 1)
    with np.errstate(over="ignore"):
        if k < 1:  # every row shorter than n words
            acc = H[:, 0].copy()
            for t in range(1, w):
                nxt = _splitmix64(acc) ^ H[:, t]
                acc = np.where(M[:, t], nxt, acc)
            return _splitmix64(acc)[:, None], np.ones((nrows, 1), dtype=bool)
        S = H[:, :k].copy()
        for t in range(1, n):
            S = _splitmix64(S) ^ H[:, t : t + k]
        S = _splitmix64(S)
        SM = M[:, n - 1 :].copy()
        # degenerate rows (< n words): one shingle folding all their words
        short = lens < n
        if short.any():
            idx = np.nonzero(short)[0]
            for i in idx:
                li = int(lens[i])
                acc = H[i, 0]
                for t in range(1, max(li, 1)):
                    acc = _splitmix64(acc) ^ H[i, t]
                S[i, 0] = _splitmix64(acc)
                SM[i, :] = False
                SM[i, 0] = True
    return S, SM


def _minhash_rows(H: np.ndarray, M: np.ndarray, num_hashes: int, n: int) -> np.ndarray:
    """(rows, num_hashes) MinHash matrix over the rows' shingle hashes:
    slot i = min over valid shingles of splitmix64(sh ^ seed_i). This
    splitmix64 family is independent of the xxhash64 slice hashes the
    exact-Jaccard side uses — MinHash only needs internal consistency,
    asserted against the exact twin by the recall tests."""
    S, SM = _shingle_rows(H, M, n)
    sig = np.empty((S.shape[0], num_hashes), dtype=np.uint64)
    sentinel = np.uint64(0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        for i in range(num_hashes):
            seed = _splitmix64(np.uint64(i + 1) * _SM_PHI)
            mixed = np.where(SM, _splitmix64(S ^ seed), sentinel)
            sig[:, i] = mixed.min(axis=1)
    return sig.view(np.int64)


def _band_hashes_rows(sig: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """(rows, bands) LSH band hashes: per band, a seeded splitmix64
    hash-fold of its ``rows_per_band`` signature slots. Two docs share a
    band hash iff they share the band's slot values (modulo 64-bit
    collisions) — the same equality classes the banding needs, at a few
    vectorized integer ops per slot instead of per-band string building."""
    su = sig.view(np.uint64)
    out = np.empty((su.shape[0], bands), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for b in range(bands):
            h = np.full(
                su.shape[0], _splitmix64(np.uint64(b + 1) * _SM_PHI), dtype=np.uint64
            )
            for r in range(rows_per_band):
                h = _splitmix64(h ^ su[:, b * rows_per_band + r])
            out[:, b] = h
    return out.view(np.int64)


def _simhash_rows(H: np.ndarray, M: np.ndarray) -> np.ndarray:
    """Row-wise 64-bit SimHash over a padded uint64 hash matrix: per-bit
    majority vote, bit_j = 1 iff Σ over valid tokens of ±1 (sign of
    bit_j(hash)) is > 0."""
    sig = np.zeros(H.shape[0], dtype=np.uint64)
    one = np.uint64(1)
    for j in range(64):
        bits = ((H >> np.uint64(j)) & one).astype(np.int64)
        votes = np.where(M, bits * 2 - 1, 0).sum(axis=1)
        sig |= (votes > 0).astype(np.uint64) << np.uint64(j)
    return sig.view(np.int64)


def _family_arrays(
    arrs, families: tuple[str, ...], num_hashes: int, n: int, bands: int
) -> dict[str, np.ndarray]:
    """The signature math, written once for the Arrow kernel and the
    driver twin: every requested family of a batch of non-empty
    word-hash arrays, from one padded matrix (see :func:`_signatures`
    for the families and their columns)."""
    H, M = _pad_hash_matrix(arrs)
    out = {}
    if "simhash" in families:
        out["simhash"] = _simhash_rows(H, M)
    if "minhash" in families:
        out["signature"] = _minhash_rows(H, M, num_hashes, n)
        if "bands" in families:
            out["bhs"] = _band_hashes_rows(out["signature"], bands, num_hashes // bands)
    return out


#: the kernel's output columns per signature family
_FAMILY_FIELDS = {
    "simhash": [StructField("simhash", LongType())],
    "minhash": [StructField("signature", ArrayType(LongType()))],
    "bands": [StructField("bhs", ArrayType(LongType()))],
}


def _signatures(
    wh: DataFrame,
    families: tuple[str, ...],
    num_hashes: int = 32,
    n: int = 3,
    bands: int = 8,
) -> DataFrame:
    """(id, <family columns>) from ONE map-only Arrow kernel over a
    :func:`_word_hash_frame`: each batch pads into one (rows, max_words)
    uint64 matrix, from which every requested family is computed — no
    explode, no shuffle. ``"simhash"`` gives the 64-bit ``simhash``;
    ``"minhash"`` gives the ``num_hashes``-slot ``signature`` (shingle
    hashes derive from the word hashes inside the kernel); ``"bands"``,
    asked for after ``"minhash"``, adds its ``bands`` LSH band hashes
    ``bhs``.

    Zero-word docs are dropped for every family: their all-sentinel
    signatures land in IDENTICAL band buckets, so e empty docs would
    create O(e²) LSH candidate pairs.
    """
    fields = [f for fam in families for f in _FAMILY_FIELDS[fam]]

    @F.pandas_udf(StructType(fields))
    def _kernel(whs: pd.Series) -> pd.DataFrame:
        arrs = whs.to_numpy()
        if len(arrs) == 0:
            return pd.DataFrame({f.name: [] for f in fields})
        out = _family_arrays(arrs, families, num_hashes, n, bands)
        return pd.DataFrame({k: list(v) if v.ndim == 2 else v for k, v in out.items()})

    return (
        _nonempty(wh)
        .select("id", _kernel("whs").alias("c"))
        .select("id", *[F.col(f"c.{f.name}").alias(f.name) for f in fields])
    )


# -------------------------------------------------------------- MinHash

def minhash_banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
    bands: int = 8,
    wh: DataFrame | None = None,
) -> DataFrame:
    """(id, signature, bhs): MinHash signature per document — slot i = min
    over the doc's shingle hashes of a seeded splitmix64 re-hash — plus its
    LSH band hashes, from the signature kernel. ``wh`` (the
    :func:`_word_hash_frame` of ``df``) skips the word-hash pass."""
    if wh is None:
        wh = _word_hash_frame(df, id_col, text_col)
    return _signatures(wh, ("minhash", "bands"), num_hashes, n, bands)


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: (id_a, id_b) documents sharing any band hash are
    candidate near-duplicates, each pair once. The join on (band_idx,
    band_hash) (:func:`common.band_pairs`) replaces the O(n²) comparison —
    the core trick that makes near-dedup feasible at 100 TB. ``sig_df``
    carries the ``bhs`` the signature kernel folded with this ``bands`` ×
    ``rows_per_band`` layout (:func:`minhash_banded_signatures`,
    :func:`combined_near_dup_signatures`).

    ``sig_df`` is pinned: it feeds both self-join sides (without this the
    whole signature pipeline runs twice), and the pin turns the kernel's
    ``bhs`` into a plain attribute for the band join's lambda. A
    projection of a checkpoint is already pinned, so ``common.pin``
    leaves it alone.
    """
    return common.band_pairs(common.pin(sig_df).select("id", "bhs"), "bhs")


#: candidate-id column of the verify semi-joins; reserved so that it can
#: never collide with a caller's id column
_CAND_ID = "__cand_id"


def _candidate_shingles(
    df: DataFrame,
    ids: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    wh: DataFrame | None = None,
) -> DataFrame:
    """(id, sh): shingle hashes of just the docs whose id is in ``ids``
    (one ``_CAND_ID`` column), reached through a broadcast LEFT SEMI join.
    ``wh`` (the :func:`_word_hash_frame` of ``df``) is semi-joined instead
    of ``df`` — no second text scan and split."""
    if wh is None:
        wh = _word_hash_frame(
            df.join(F.broadcast(ids), F.col(id_col) == F.col(_CAND_ID), "left_semi"),
            id_col,
            text_col,
        )
    else:
        wh = wh.join(F.broadcast(ids), F.col("id") == F.col(_CAND_ID), "left_semi")
    return wh.select("id", _shingle_hashes_from_whs(F.col("whs"), n).alias("sh"))


def _verify_jaccard_pairs(
    df: DataFrame,
    cands: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int,
    wh: DataFrame | None = None,
    df_b: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs.

    Shingle arrays are recomputed only for candidate docs (a full corpus
    re-shingle pass dominated this query's runtime). Candidate ids reach
    the corpus scan via a broadcast LEFT SEMI join — fully lazy, no driver
    materialization, and the measured winner: an earlier adaptive variant
    collected the ids and pushed an IN-list into the parquet scan when
    small, but its two extra driver actions (count + collect) cost ~1 s at
    sf0.1, more than the pushdown saved; the semi-join is also the only
    shape that works unchanged when the candidate set is huge. The pair
    list itself is always broadcast so shingle arrays never shuffle.
    ``cands`` must be materialized (localCheckpoint) by the caller. The
    pairs come unsorted; the entry points sort.

    Both ids come from ``df`` (or ``wh``, see :func:`_candidate_shingles`);
    ``df_b`` is the incremental case, where id_b docs come from that frame.
    """
    if df_b is None:
        cand_ids = (
            cands.select(F.col("id_a").alias(_CAND_ID))
            .union(cands.select(F.col("id_b")))
            .distinct()
        )
        sh_a = sh_b = _candidate_shingles(df, cand_ids, id_col, text_col, n, wh)
    else:
        ids_a = cands.select(F.col("id_a").alias(_CAND_ID)).distinct()
        ids_b = cands.select(F.col("id_b").alias(_CAND_ID)).distinct()
        sh_a = _candidate_shingles(df, ids_a, id_col, text_col, n)
        sh_b = _candidate_shingles(df_b, ids_b, id_col, text_col, n)
    a = sh_a.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(F.broadcast(cands), "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------ near-dup core on the driver

#: Below the driver-input gate the near-dup core runs as numpy on the
#: driver (:func:`_near_pairs_driver`); each batch of set intersections
#: probes at most this many shingle hashes, which bounds its memory.
_PROBE_BATCH = 1 << 22


def _ranges(counts: np.ndarray) -> np.ndarray:
    """0 … c−1 for each c of ``counts``, concatenated."""
    ends = np.cumsum(counts)
    return np.arange(ends[-1] if len(ends) else 0) - np.repeat(ends - counts, counts)


def _list_column(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(values, offsets, valid) of an Arrow list<long> column: row i holds
    values[offsets[i]:offsets[i + 1]]; ``valid`` is False for a NULL list."""
    arr = col.combine_chunks()
    offs = arr.offsets.to_numpy().astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
    valid = ~arr.is_null().to_numpy(zero_copy_only=False)
    return vals, offs - offs[0], valid


def _families_by_length(
    rows: list, families: tuple[str, ...], num_hashes: int, n: int, bands: int
) -> dict[str, np.ndarray]:
    """:func:`_family_arrays` over non-empty word-hash ``rows``, batched by
    length class: a batch pads to less than twice its rows' lengths, so
    one long document never pads the whole corpus to its length."""
    shapes = _family_arrays([], families, num_hashes, n, bands)
    out = {k: np.empty((len(rows),) + v.shape[1:], v.dtype) for k, v in shapes.items()}
    cls = np.frexp(np.fromiter(map(len, rows), np.float64, len(rows)))[1]
    for c in np.unique(cls):
        idx = np.flatnonzero(cls == c)
        batch = _family_arrays([rows[i] for i in idx], families, num_hashes, n, bands)
        for k, v in batch.items():
            out[k][idx] = v
    return out


def _buckets(keys: np.ndarray) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Per column of ``keys`` (one band): the row order that sorts it and
    the (start, size) in that order of every bucket — a run of at least
    two equal keys."""
    out = []
    for col in keys.T:
        order = np.argsort(col, kind="stable")
        s = col[order]
        starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
        sizes = np.diff(np.r_[starts, len(s)])
        out.append((order, starts[sizes > 1], sizes[sizes > 1]))
    return out


def _bucket_pair_count(buckets) -> int:
    """Σ C(size, 2) over the buckets: the band join's rows, counted from
    the bucket sizes alone, before any pair is built."""
    return int(sum((sz * (sz - 1) // 2).sum() for _, _, sz in buckets))


def _bucket_pairs(buckets, n_rows: int) -> tuple[np.ndarray, np.ndarray]:
    """(lo, hi) row pairs, lo < hi, that share a bucket in any band, each
    pair once."""
    codes = [np.empty(0, np.int64)]
    for order, starts, sizes in buckets:
        pos = np.repeat(starts, sizes) + _ranges(sizes)
        after = np.repeat(starts + sizes - 1, sizes) - pos  # later members of its bucket
        left = np.repeat(pos, after)
        a, b = order[left], order[left + 1 + _ranges(after)]
        codes.append(np.minimum(a, b) * n_rows + np.maximum(a, b))
    codes = np.unique(np.concatenate(codes))
    return codes // max(n_rows, 1), codes % max(n_rows, 1)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Set bits per 64-bit word (SWAR) — Spark's ``bit_count``."""
    x = x.view(np.uint64)
    with np.errstate(over="ignore"):
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        m2 = np.uint64(0x3333333333333333)
        x = (x & m2) + ((x >> np.uint64(2)) & m2)
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int32)


def _rows_of_ids(rank: np.ndarray, a: np.ndarray, b: np.ndarray):
    """(i, row_a, row_b) for every row pair whose id ranks are (a[i], b[i]):
    the verify join's multiset, one row pair per i when ids are unique."""
    by = np.argsort(rank, kind="stable")
    cnt = np.bincount(rank, minlength=1)
    start = np.cumsum(cnt) - cnt
    per = cnt[a] * cnt[b]
    i = np.repeat(np.arange(len(a)), per)
    t = _ranges(per)
    return i, by[start[a][i] + t // cnt[b][i]], by[start[b][i] + t % cnt[b][i]]


def _set_jaccard(
    vals: np.ndarray, offs: np.ndarray, ra: np.ndarray, rb: np.ndarray
) -> np.ndarray:
    """Exact Jaccard of the distinct-hash sets of rows ``ra[i]`` and
    ``rb[i]`` (a list column as values + offsets): each hash of row a is
    probed in row b's sorted (row, hash) keys, in batches of at most
    ``_PROBE_BATCH`` probes."""
    lens = np.diff(offs)
    uniq, hid = np.unique(vals, return_inverse=True)
    u = max(len(uniq), 1)
    keys = np.sort(np.repeat(np.arange(len(lens)), lens) * u + hid)
    la = lens[ra]
    inter = np.zeros(len(ra), np.int64)
    ends = np.cumsum(la)
    marks = np.arange(_PROBE_BATCH, ends[-1] if len(ends) else 0, _PROBE_BATCH)
    cuts = np.unique(np.r_[0, np.searchsorted(ends, marks), len(ra)])
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        pair = np.repeat(np.arange(lo, hi), la[lo:hi])
        q = rb[pair] * u + hid[np.repeat(offs[ra[lo:hi]], la[lo:hi]) + _ranges(la[lo:hi])]
        hit = keys[np.minimum(np.searchsorted(keys, q), len(keys) - 1)] == q
        inter[lo:hi] = np.bincount(pair - lo, weights=hit, minlength=hi - lo)
    with np.errstate(divide="ignore", invalid="ignore"):
        return inter.astype(np.float64) / (la + lens[rb] - inter).astype(np.float64)


def _near_pairs_driver(
    df: DataFrame,
    id_col: str,
    text_col: str,
    families: tuple[str, ...],
    num_hashes: int = 32,
    n: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    max_hamming: int = 3,
    wh: DataFrame | None = None,
) -> DataFrame | None:
    """The near-dup core's driver twin, for ``df`` under the driver-input
    gate: ``families`` ``("minhash",)`` gives :func:`minhash_dedup_pairs`'
    rows, ``("simhash",)`` :func:`simhash_near_pairs`' and both
    :func:`combined_near_dup_pairs`' — same columns, types and order.

    One Arrow pull (one job, no text) of each document's word hashes
    ``whs`` and, for MinHash, its shingle hashes ``sh`` — the JVM
    expression the distributed verifier uses, so Jaccard values are
    bit-identical. Signatures come from :func:`_family_arrays`, the Arrow
    kernel's own math; candidates are the pairs sharing a band bucket
    (MinHash band hash, SimHash 16-bit band), with the distributed
    twin's rules: empty and NULL documents have no signature, a pair of
    equal ids is never a candidate, and duplicate ids verify as the
    distributed join does (every row of each id). Returns None — the
    distributed twin runs — above the input gate, or when the band join
    would build more than ``DRIVER_MAX_EDGES`` pairs (one skewed bucket
    of e documents alone builds e²/2).
    """
    if not common.driver_input_fits(df):
        return None
    if wh is None:
        wh = _word_hash_frame(df, id_col, text_col, spread=False)
    minhash = "minhash" in families
    sh = [_shingle_hashes_from_whs(F.col("whs"), n).alias("sh")] if minhash else []
    pulled = wh.filter(F.col("id").isNotNull()).select("id", "whs", *sh)
    tbl = pulled.toArrow()
    # ranks order like the ids; duplicate ids share one
    ids, rank = np.unique(
        tbl.column("id").to_numpy(zero_copy_only=False), return_inverse=True
    )
    vals, offs, valid = _list_column(tbl.column("whs"))
    live = np.flatnonzero(np.diff(offs) * valid > 0)  # the kernel's empty-document rule
    whs = np.split(vals, offs[1:-1])
    simhash = "simhash" in families
    kernel = (("simhash",) if simhash else ()) + (("minhash", "bands") if minhash else ())
    sig = _families_by_length([whs[i] for i in live], kernel, num_hashes, n, bands)
    keys = {"minhash": sig["bhs"]} if minhash else {}
    if simhash:
        keys["simhash"] = (sig["simhash"][:, None] >> np.arange(0, 64, 16)) & 0xFFFF
    buckets = {f: _buckets(k) for f, k in keys.items()}
    n_cand = sum(map(_bucket_pair_count, buckets.values()))
    if not common.fits(n_cand, common.DRIVER_MAX_EDGES):
        return None
    out = {}
    for fam in [f for f in ("minhash", "simhash") if f in families]:
        lo, hi = _bucket_pairs(buckets[fam], len(live))
        a, b = rank[live[lo]], rank[live[hi]]
        keep = a != b  # the band join's id_a < id_b
        lo, hi, a, b = lo[keep], hi[keep], np.minimum(a, b)[keep], np.maximum(a, b)[keep]
        if fam == "simhash":
            v = _popcount64(sig["simhash"][lo] ^ sig["simhash"][hi])
            keep = v <= max_hamming
        else:
            i, ra, rb = _rows_of_ids(rank, a, b)
            sh_vals, sh_offs, sh_valid = _list_column(tbl.column("sh"))
            v = _set_jaccard(sh_vals, sh_offs, ra, rb)
            a, b = a[i], b[i]
            keep = sh_valid[ra] & sh_valid[rb] & (v >= threshold)
        a, b, v = a[keep], b[keep], v[keep]
        order = np.lexsort((b, a))
        out[fam] = (ids[a[order]], ids[b[order]], v[order])
    id_t = pulled.schema["id"].dataType
    if len(out) == 1:
        ((fam, (a, b, v)),) = out.items()
        name, t = ("jaccard", DoubleType()) if fam == "minhash" else ("hamming", IntegerType())
        pdf = pd.DataFrame({"id_a": a, "id_b": b, name: v})
        fields = [StructField(name, t)]
    else:
        pdf = pd.concat(
            [
                pd.DataFrame({"id_a": a, "id_b": b, "method": fam, "score": v.astype(float)})
                for fam, (a, b, v) in out.items()
            ],
            ignore_index=True,
        )
        fields = [StructField("method", StringType()), StructField("score", DoubleType())]
    schema = StructType([StructField("id_a", id_t), StructField("id_b", id_t), *fields])
    return df.sparkSession.createDataFrame(pdf, schema)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    sigs: DataFrame | None = None,
    wh: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dedup: signatures → band candidates → exact
    Jaccard verification on candidates only. Pass precomputed ``sigs``
    (from build_near_dup_index) to skip the signature kernel — the
    streaming path computes signatures ONCE per batch and feeds all
    three consumers. Pass ``wh`` ((id, whs) word hashes) to derive both
    the signatures and the candidate verification from one shared corpus
    pass (lsh_recall_audit). Without ``sigs``, a ``df`` under the
    driver-input gate runs on the driver (:func:`_near_pairs_driver`).
    """
    if sigs is None:
        local = _near_pairs_driver(
            df, id_col, text_col, ("minhash",), num_hashes, n, bands, threshold, wh=wh
        )
        if local is not None:
            return local
        sigs = minhash_banded_signatures(
            df, id_col, text_col, num_hashes, n, bands, wh=wh
        )
    # Materialize the (small) candidate list once: it feeds the id filter
    # and the pair join below, and without this the whole signature+banding
    # pipeline would be recomputed per use. localCheckpoint keeps it
    # distributed (executor block storage); on a long-lived cluster use a
    # checkpoint dir instead for lineage resilience.
    cands = lsh_candidate_pairs(sigs, bands, num_hashes // bands).localCheckpoint()
    return _verify_jaccard_pairs(df, cands, id_col, text_col, threshold, n, wh=wh).orderBy(
        "id_a", "id_b"
    )


# -------------------------------------------------------------- SimHash

def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): 64-bit SimHash, a per-bit majority vote over
    xxhash64(token), from the signature kernel."""
    return _signatures(_word_hash_frame(df, id_col, text_col), ("simhash",))


def simhash_band_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from an ``(id, simhash)`` signature table, using the
    4-band pigeonhole trick: if hamming(a,b) ≤ 3, at least one of the four
    16-bit bands is identical → band join (:func:`common.band_pairs`),
    verify with bit_count. The pairs come unsorted; callers that need an
    order sort.

    ``sigs`` is pinned, as in :func:`lsh_candidate_pairs`, so the bands
    array reads ``simhash`` as a plain attribute."""
    bands = F.expr("transform(sequence(0, 3), b -> shiftright(simhash, 16 * b) & 65535)")
    banded = common.pin(sigs).select("id", "simhash", bands.alias("bands"))
    ham = F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash")))
    return (
        common.band_pairs(banded, "bands")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k (see
    :func:`simhash_band_pairs`); a ``df`` under the driver-input gate runs
    on the driver (:func:`_near_pairs_driver`)."""
    local = _near_pairs_driver(df, id_col, text_col, ("simhash",), max_hamming=max_hamming)
    if local is not None:
        return local
    return simhash_band_pairs(simhash64(df, id_col, text_col), max_hamming).orderBy(
        "id_a", "id_b"
    )


# ------------------------------------------------- combined (single pass)


def combined_near_dup_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
    bands: int = 8,
) -> DataFrame:
    """BOTH near-dup signature families — 64-bit SimHash and the
    ``num_hashes``-slot MinHash signature with its band hashes — from ONE
    corpus pass and ONE signature-kernel call over ONE shared word-hash
    array. At 100 TB the corpus pass IS the cost, so a pipeline wanting
    both families should use this and feed :func:`simhash_band_pairs` /
    :func:`lsh_candidate_pairs` from the shared result.

    Output: (id, simhash, signature, bhs). Values are bit-identical to
    :func:`simhash64` and :func:`minhash_banded_signatures`, with the same
    empty-doc policy (see :func:`_signatures`).
    """
    return _signatures(
        _word_hash_frame(df, id_col, text_col),
        ("simhash", "minhash", "bands"),
        num_hashes,
        n,
        bands,
    )


def combined_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """MinHash-LSH and SimHash near-dup pairs from one shared signature
    pass: ``method`` column says which family found the pair, ``score`` is
    the verified Jaccard (minhash) or hamming distance (simhash), sorted
    by method and ids. Under the driver-input gate the driver twin
    (:func:`_near_pairs_driver`) answers, already in that order."""
    local = _near_pairs_driver(
        df, id_col, text_col, ("minhash", "simhash"), num_hashes, n, bands, threshold, max_hamming
    )
    if local is not None:
        return local
    sigs = combined_near_dup_signatures(df, id_col, text_col, num_hashes, n, bands)
    # one materialization feeds both pair pipelines
    sigs = sigs.localCheckpoint()
    cands = lsh_candidate_pairs(
        sigs.select("id", "bhs"), bands, num_hashes // bands
    ).localCheckpoint()
    mh = _verify_jaccard_pairs(df, cands, id_col, text_col, threshold, n)
    sh = simhash_band_pairs(sigs.select("id", "simhash"), max_hamming)
    return mh.select(
        "id_a", "id_b", F.lit("minhash").alias("method"), F.col("jaccard").alias("score")
    ).unionByName(
        sh.select(
            "id_a",
            "id_b",
            F.lit("simhash").alias("method"),
            F.col("hamming").cast("double").alias("score"),
        )
    ).orderBy("method", "id_a", "id_b")


# ---------------------------------------------------------------- queries

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(table(spark, sf_dir, "documents"), "text", "doc_id").orderBy(
        "representative_id"
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS text_sha256,
       MIN(doc_id) AS representative_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
ORDER BY representative_id
"""


def q_dedup_first_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DropDuplicationStep semantics (duplication.py:21-51): first row per
    key, key = source, deterministic order by doc_id.
    """
    return (
        exact_dedup(table(spark, sf_dir, "documents"), ["source"], "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


DEDUP_FIRST_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1 ORDER BY doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), threshold=0.5)


NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id AS id, DISTINCT_SHINGLE AS shingle FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+2], ' '))
           ELSE [array_to_string(ws, ' ')] END)) AS DISTINCT_SHINGLE
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
          FROM documents)
  )
), sizes AS (
  SELECT id, COUNT(*) AS n_shingles FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5
ORDER BY id_a, id_b
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup (rows-only check: xxhash64 is Spark-specific,
    no cross-engine oracle — the exact-Jaccard twin above is the oracle'd
    variant; tests assert LSH recall against it).
    """
    return minhash_dedup_pairs(table(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (rows-only check, same reason as MinHash)."""
    return simhash_near_pairs(table(spark, sf_dir, "documents"), max_hamming=3)


def q_combined_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both near-dup families from one shared signature pass (rows-only
    check; tests assert parity with the separate operators)."""
    return combined_near_dup_pairs(table(spark, sf_dir, "documents"))


# ------------------------------------------------ dedup keep-set / clusters

def near_dedup_keep_stats(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """End-to-end near-dedup outcome: drop every document that appears as
    the larger id of a near-duplicate pair (the standard keep-first rule —
    deterministic, order-free, idempotent), then report per-group how much
    of the corpus survived.

    ``pairs`` is any (id_a < id_b) near-dup pair source — exact Jaccard
    here (oracle-able); at 100 TB you swap in ``minhash_dedup_pairs``
    unchanged since only the id_b projection is consumed. The dropped-id
    set is tiny relative to the corpus, so the anti-join broadcasts.
    """
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    flagged = df.join(
        F.broadcast(dropped.withColumn("__dropped", F.lit(1))), id_col, "left"
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__dropped"), F.lit(0))).alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("__dropped"), F.lit(0)))).alias(
                "n_kept"
            ),
        )
        .orderBy(group_col)
    )


def q_dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, sort=False)
    return near_dedup_keep_stats(docs, pairs)


_JACCARD_PAIRS_CTE = """
sh AS (
  SELECT doc_id AS id, DISTINCT_SHINGLE AS shingle FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+2], ' '))
           ELSE [array_to_string(ws, ' ')] END)) AS DISTINCT_SHINGLE
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
          FROM documents)
  )
), sizes AS (
  SELECT id, COUNT(*) AS n_shingles FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5
)"""


DEDUP_NEAR_KEEP_SQL = f"""
WITH {_JACCARD_PAIRS_CTE},
dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
GROUP BY d.source
ORDER BY d.source
"""


def _uf_roots(src_iter, dst_iter) -> dict[int, int]:
    """Driver union-find over parallel (src, dst) endpoint iterables;
    returns {node: component-minimum id} for every node that appears.
    Union is symmetric, so mirrored and unmirrored edge lists label
    identically — only node MEMBERSHIP needs both endpoints, which the
    loop adds regardless of direction."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in zip(src_iter, dst_iter):
        src, dst = int(src), int(dst)
        if src not in parent:
            parent[src] = src
        if dst not in parent:
            parent[dst] = dst
        ra, rb = find(src), find(dst)
        if ra != rb:
            # union by min id keeps the label = component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in parent}


def _union_find_members(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a (src, dst) edge list; returns one
    (doc_id, cluster_id = min member id) row per node in the edge set."""
    # Arrow-batched pull (toPandas), not py4j Row collect — the same
    # serialization fix the pagerank/k-core twins carry; at the 1M-edge
    # gate this is ~100 ms instead of seconds.
    pdf = edges.toPandas()
    cols = list(pdf.columns)
    roots = _uf_roots(
        pdf[cols[0]].astype("int64"), pdf[cols[1]].astype("int64")
    )
    rows = sorted(roots.items())
    return spark.createDataFrame(rows, "doc_id long, cluster_id long")


def _shortcut_label_members(
    spark: SparkSession, edges: DataFrame, max_rounds: int = 40
) -> tuple[DataFrame, bool]:
    """Connected components by min-label propagation WITH POINTER-DOUBLING
    shortcuts (the Shiloach-Vishkin hook+jump hybrid used by
    GraphFrames-style distributed CC): each round first adopts the
    minimum label over the neighborhood, then replaces every label by ITS
    label (one self-join) — labels hop two chain links per round, so
    convergence needs O(log diameter) rounds instead of the plain loop's
    O(diameter). This is the path that makes adversarial long-chain dup
    graphs tractable.

    Labels are always member ids (min of a set of ids), so the shortcut
    self-join always finds its key. Every step is monotone non-increasing
    and bounded by the component minimum — the exact decimal label-sum
    probe detects the fixed point, which is each component's min id,
    matching :func:`_union_find_members` bit for bit (tested on chains,
    stars, and random graphs). Per round: two keyed joins + one
    self-join; O(log d) rounds.
    """
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    converged = False
    # max_rounds + 1 iterations: equality of the label sum is only
    # OBSERVABLE one round after the fixed point is reached, so a graph
    # that converges exactly on round max_rounds needs one confirmation
    # round to be reported converged (ADVICE r5) — "converged" means
    # "≤ max_rounds improving rounds", not "≤ max_rounds-1".
    for _ in range(max_rounds + 1):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer doubling: label := label(label) — one self-join
        lmap = hooked.select(
            F.col("id").alias("label"), F.col("label").alias("ll")
        )
        labels = (
            hooked.join(lmap, "label", "left")
            .select("id", F.coalesce(F.col("ll"), F.col("label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        # Labels are non-increasing and bounded by the component minimum,
        # so the exact decimal label sum is strictly monotone until the
        # fixed point — comparing sums is an exact changed-probe.
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    return (
        labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")),
        converged,
    )


def near_dup_cluster_members(
    pairs: DataFrame, max_iters: int = 20, strict: bool = True
) -> DataFrame:
    """Connected components over near-dup pairs by iterative min-label
    propagation: every node starts labeled with its own id; each round a
    node adopts the minimum label among itself and its neighbors; converged
    when a round changes nothing. The cluster id is therefore the minimum
    doc_id in the component — deterministic.

    Scale shape: each round is two keyed shuffles (edge join + min
    aggregate) PLUS a pointer-doubling shortcut self-join
    (:func:`_shortcut_label_members`, round 5) — so rounds needed is
    O(log diameter), not the diameter itself: adversarial long-chain dup
    graphs converge in tens of rounds instead of thousands.
    ``localCheckpoint`` cuts the growing lineage so round N doesn't
    replay rounds 1..N-1.

    Returns one (doc_id, cluster_id) row per node in the dup graph —
    every member of every ≥2-component (a node appears iff it has an
    edge). :func:`near_dup_clusters` aggregates this to sizes;
    selection.cluster_best_keep joins it back to pick representatives.

    ``strict`` (default): if propagation hits ``max_iters`` without
    converging, RAISE instead of returning a labeling that splits
    components across multiple labels — downstream consumers
    (merge_cluster_labels, streaming/clusters.py) persist these labels as
    ground truth, so a silently-partial labeling would compound across
    batches. ``strict=False`` restores the warn-and-return behavior for
    exploratory use.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = edges.localCheckpoint(eager=True)
    # The edge set is orders of magnitude smaller than the corpus (it's the
    # post-threshold near-dup graph), so size the iteration's parallelism to
    # IT, not to spark.sql.shuffle.partitions: a few-hundred-edge graph
    # iterating over 32 mostly-empty shuffle partitions pays ~32× the task
    # overhead per round for nothing. ~100k edges per partition keeps a
    # 100 TB-scale dup graph distributed on the same formula.
    n_edges = edges.count()  # cheap: checkpointed
    if common.fits(n_edges, common.DRIVER_MAX_EDGES):
        # Same size-guarded reasoning as a broadcast join: a graph this
        # small (≤16 MB of long pairs) clusters in milliseconds with
        # driver-side union-find, vs 2+ shuffle rounds × job overhead per
        # label-propagation iteration. Identical output: the component
        # label is the minimum member id in both paths.
        return _union_find_members(pairs.sparkSession, edges)
    n_parts = max(1, min(edges.rdd.getNumPartitions(), n_edges // 100_000 + 1))
    edges = edges.repartition(n_parts, "dst")
    members, converged = _shortcut_label_members(
        pairs.sparkSession, edges, max_rounds=max_iters
    )
    if not converged:
        msg = (
            f"label propagation did not converge in {max_iters} rounds "
            "(shortcutted — this needs diameter > 2^rounds); raise "
            "max_iters for pathological graphs"
        )
        if strict:
            # Never let a partial labeling escape as if it were the full
            # connected-components answer (it would be persisted as
            # streaming cluster state and compound batch over batch).
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return members


def near_dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Component sizes over :func:`near_dup_cluster_members`: one row per
    ≥2-member component, (cluster_id = min member id, size)."""
    return (
        near_dup_cluster_members(pairs, max_iters)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("cluster_id")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return near_dup_clusters(ngram_jaccard_pairs(docs, threshold=0.5, sort=False))


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTE},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS id, LEAST(src, MIN(dst)) AS label FROM reach GROUP BY src
)
SELECT label AS cluster_id, COUNT(*) AS size
FROM labels GROUP BY label ORDER BY cluster_id
"""


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle-set containment
    ``|A∩B| / |A|`` in both directions. Catches near-SUBSET duplication —
    a doc embedded in a longer one — which symmetric Jaccard dilutes
    toward 0 as the length gap grows (the standard curation companion to
    :func:`ngram_jaccard_pairs`; cf. Broder's containment measure).

    Same single-shuffle shape as the Jaccard operator: each exploded
    shingle row carries its doc's set size, so both containments and the
    Jaccard come out of one shingle equi-join + count. Pairs pass when
    EITHER direction reaches the threshold. Floats are each a single
    IEEE division of exact int64s — bit-reproducible in any row order.
    ``max_df`` caps shingle document frequency exactly as in
    :func:`ngram_jaccard_pairs` (the d² self-join hazard is identical).
    """
    pairs = _overlap_pairs(_shingle_set_rows(df, id_col, text_col, n, max_df))
    inter = F.col("n_inter").cast("double")
    cont_a = inter / F.col("n_a").cast("double")
    cont_b = inter / F.col("n_b").cast("double")
    return (
        pairs.select(
            "id_a",
            "id_b",
            cont_a.alias("containment_a_in_b"),
            cont_b.alias("containment_b_in_a"),
            (
                inter / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .orderBy("id_a", "id_b")
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(table(spark, sf_dir, "documents"), threshold=0.6)


CONTAINMENT_SQL = f"""
WITH {_JACCARD_PAIRS_CTE.split(', pairs AS')[0]}, inter2 AS (
  SELECT id_a, id_b, n_inter, sa.n_shingles AS n_a, sb.n_shingles AS n_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a_in_b,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b_in_a,
       CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
FROM inter2
WHERE CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.6
   OR CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.6
ORDER BY id_a, id_b
"""


# ---------------------------------------------- capped (df-guarded) twins

# The scale configuration of the exact shingle self-join: shingles whose
# DOCUMENT frequency exceeds this are dropped before the join (the d²
# hazard — one phrase in 100k docs alone yields 10¹⁰ join rows). The
# uncapped queries above stay registered as the exactness verifiers; these
# twins oracle-check the capped path itself (VERDICT r3 #3). 4 sits below
# the testdata's max shingle df (7–9 across sf0.001–0.01) so the cap
# actually drops shingles at every test scale; a production corpus would
# set it orders of magnitude higher (it only needs to kill the d² tail).
CAPPED_MAX_DF = 4

_CAPPED_SHINGLES_CTE = f"""
sh0 AS (
  SELECT doc_id AS id, DISTINCT_SHINGLE AS shingle FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+2], ' '))
           ELSE [array_to_string(ws, ' ')] END)) AS DISTINCT_SHINGLE
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
          FROM documents)
  )
), freq AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > {CAPPED_MAX_DF}
), sh AS (
  SELECT s.id, s.shingle FROM sh0 s ANTI JOIN freq f ON s.shingle = f.shingle
), sizes AS (
  SELECT id, COUNT(*) AS n_shingles FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)"""

# pairs(id_a, id_b) at Jaccard ≥ 0.5 over the capped shingles: the edge
# list of every capped-pair oracle (clusters, k-core, splits)
_CAPPED_PAIRS_CTE = f"""{_CAPPED_SHINGLES_CTE}, pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5
)"""


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard with the df-cap ON — the configuration you would run
    at corpus scale (oracle mirrors the cap exactly)."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5, max_df=CAPPED_MAX_DF
    )


NGRAM_JACCARD_CAPPED_SQL = f"""
WITH {_CAPPED_SHINGLES_CTE}
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5
ORDER BY id_a, id_b
"""


def q_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.6, max_df=CAPPED_MAX_DF
    )


CONTAINMENT_CAPPED_SQL = f"""
WITH {_CAPPED_SHINGLES_CTE}, inter2 AS (
  SELECT id_a, id_b, n_inter, sa.n_shingles AS n_a, sb.n_shingles AS n_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a_in_b,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b_in_a,
       CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
FROM inter2
WHERE CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.6
   OR CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.6
ORDER BY id_a, id_b
"""


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """Cross-document duplicated-SPAN statistics: for every token position,
    does the ``n``-token span starting there also occur in some OTHER
    document? Span-level exact-substring dedup (the Lee et al. 2022
    "Deduplicating Training Data" shape) — catches shared boilerplate
    paragraphs that document-level Jaccard/MinHash dilute away.

    Per doc: ``n_spans`` (token positions), ``n_dup_spans`` (positions
    whose span occurs in ≥1 other doc), ``dup_span_frac`` (one IEEE
    division of exact int64s — cross-engine bit-stable). Documents with a
    NULL id are left out.

    Scale shape: spans are NON-distinct rolling xxhash64 n-grams (one long
    per token position — linear in corpus tokens); one per-(doc, hash)
    count, one per-hash aggregate, one per-doc aggregate — no join.
    Shuffles carry (hash, id) longs only — the text never moves. The
    DuckDB oracle builds literal span strings instead of hashes; counts
    agree since 64-bit collisions are negligible (~positions²/2⁶⁵).
    """
    spans = _span_hash_stream(df, id_col, text_col, n).filter(F.col("id").isNotNull())
    # "occurs in another doc" ⇔ min(id) != max(id) over the span hash.
    # SKEW-SAFE shape, join-free (default since r4): collapse to distinct
    # (id, h) with per-doc occurrence counts (map-side combine), then one
    # per-h aggregate (combine again). The inversion that kills the
    # join-back-on-h a naive flagging needs: n_dup = n_spans − n_uniq,
    # and a span hash UNIQUE to one doc (min==max) names that doc in the
    # aggregate itself — so the per-h output maps straight to (doc,
    # uniq-count) rows with no further reference to the span table. A
    # non-empty doc's span rows are exactly its n_spans, so one per-doc
    # aggregate over the per-doc counts and the unique-span counts yields
    # both (one corpus pass: the two branches share the first exchange,
    # and the non-NULL id filter keeps them identical when a caller's
    # join infers one on the id).
    # A mega-duplicated span (license header in millions of docs) costs ≤1
    # row per doc into shuffle 1 and is FILTERED OUT by shuffle 2's
    # combine — it never concentrates anywhere (the earlier
    # `W.partitionBy("h")` window put every occurrence in ONE partition
    # with no partial aggregation; VERDICT r3 #2).
    per_doc = spans.groupBy("id", "h").agg(F.count(F.lit(1)).alias("c"))
    zero = F.lit(0).cast("long")
    uniq = (
        per_doc.groupBy("h")
        .agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.sum("c").alias("tc"),
        )
        .filter(F.col("lo") == F.col("hi"))
        .select(F.col("lo").alias("id"), zero.alias("c"), F.col("tc").alias("u"))
    )
    return (
        per_doc.select("id", "c", zero.alias("u"))
        .unionByName(uniq)
        .groupBy("id")
        .agg(F.sum("c").alias("n_spans"), F.sum("u").alias("n_uniq"))
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            (F.col("n_spans") - F.col("n_uniq")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"),
        )
        .orderBy(id_col)
    )


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_span_stats(table(spark, sf_dir, "documents"), n=20)


DUP_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), nonempty AS (
  SELECT doc_id, ws FROM toks WHERE len(ws) > 0
), spans AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 20
              THEN array_to_string(ws[i:i+19], ' ')
              ELSE array_to_string(ws, ' ') END AS g
  FROM nonempty, UNNEST(range(1, GREATEST(len(ws) - 18, 2))) AS t(i)
), counts AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM spans GROUP BY g
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_span_frac
FROM spans s JOIN counts c ON s.g = c.g
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


def eval_span_hashes(
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Distinct ``n``-token span hashes of an evaluation set — the
    reference table decontamination joins against. Exposed separately so
    a consumer scoring MANY corpora (or a stream, micro-batch by
    micro-batch) computes it once; pass the result to
    :func:`decontamination_overlap` via ``eval_spans``."""
    return _span_hash_stream(eval_set, id_col, text_col, n).select("h").distinct()


def _span_hash_stream(
    df: DataFrame, id_col: str, text_col: str, n: int, pos: bool = False
) -> DataFrame:
    """(id, h) — (id, pos, h) with ``pos``, 0-based — one row per n-word
    span of every non-empty document: the positional span hashes of its
    :func:`_word_hash_frame` (a doc shorter than ``n`` is one span)."""
    wh = _nonempty(_word_hash_frame(df, id_col, text_col))
    grams = _gram_hashes(F.col("whs"), n)
    if pos:
        return wh.select("id", F.posexplode(grams).alias("pos", "h"))
    return wh.select("id", F.explode(grams).alias("h"))


def decontamination_overlap(
    corpus: DataFrame,
    eval_set: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    eval_spans: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    ``n``-token spans that occur anywhere in an evaluation set — the
    pre-training hygiene check (13-gram overlap is the published GPT-3
    appendix-C convention) run before any benchmark number is reported.

    Asymmetric by design: eval spans form a (deduplicated) reference set;
    corpus docs are scored against it. Scale shape: the eval span table is
    usually tiny relative to the corpus → distinct span hashes + LEFT SEMI
    join against it (broadcast when small, shuffle-hash otherwise — AQE
    decides); the corpus side streams one (hash, id) long pair per token
    position. Counts use hashed spans; the DuckDB oracle uses literal span
    strings — identical up to negligible 64-bit collisions.
    """
    if eval_spans is None:
        eval_spans = eval_span_hashes(eval_set, id_col, text_col, n)
    marked = _span_hash_stream(corpus, id_col, text_col, n).join(
        eval_spans.withColumn("contaminated", F.lit(1)), "h", "left"
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("contaminated"), F.lit(0)).cast("long")).alias(
                "n_contaminated"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double") / F.col("n_spans").cast("double")
            ).alias("contamination_frac"),
        )
        .orderBy(id_col)
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scored against a stand-in eval set (every 100th document)."""
    docs = table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 100 == 0)
    return decontamination_overlap(docs.filter(F.col("doc_id") % 100 != 0), eval_set, n=13)


DECONTAMINATION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), nonempty AS (
  SELECT doc_id, ws FROM toks WHERE len(ws) > 0
), spans AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 13
              THEN array_to_string(ws[i:i+12], ' ')
              ELSE array_to_string(ws, ' ') END AS g
  FROM nonempty, UNNEST(range(1, GREATEST(len(ws) - 11, 2))) AS t(i)
), eval_spans AS (
  SELECT DISTINCT g FROM spans WHERE doc_id % 100 = 0
), corpus AS (
  SELECT doc_id, g FROM spans WHERE doc_id % 100 != 0
)
SELECT c.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS contamination_frac
FROM corpus c LEFT JOIN eval_spans e ON c.g = e.g
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def build_near_dup_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
    bands: int = 8,
) -> DataFrame:
    """The persistable near-dup INDEX for a corpus: (id, signature, bhs).

    Write it out partitioned/bucketed and the daily-ingest path never
    re-touches old text: new batches compute their own signatures and
    band-join against this table (:func:`incremental_near_dup_pairs`).
    At 100 TB the index is ~300 bytes/doc — three orders smaller than the
    corpus it summarizes.
    """
    return minhash_banded_signatures(df, id_col, text_col, num_hashes, n, bands)


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an already-indexed corpus —
    the incremental form of :func:`minhash_dedup_pairs` for continuous
    ingestion. Cost is proportional to the new batch: signatures are
    computed for new docs only, the banded join touches the (tiny) index
    rather than corpus text, and exact-Jaccard verification re-shingles
    only candidate docs from either side (broadcast semi-joins).

    Emits (id_a=new doc, id_b=matched corpus doc, jaccard ≥ threshold).
    New-vs-new duplicates are intentionally out of scope here — run the
    batch through :func:`minhash_dedup_pairs` for those; a daily pipeline
    does both (new-vs-corpus, then new-vs-new) and unions the results.
    The band join and the verifier are :func:`minhash_dedup_pairs`' own;
    a ``new_sigs`` that is already a checkpoint is not copied again.
    """
    if new_sigs is None:
        new_sigs = minhash_banded_signatures(
            new_docs, id_col, text_col, num_hashes, n, bands
        )
    cands = (
        common.band_pairs(
            common.pin(new_sigs).select("id", "bhs"), "bhs", corpus_index.select("id", "bhs")
        )
        .filter(F.col("id_a") != F.col("id_b"))  # a replayed batch may already be indexed
        .localCheckpoint()
    )
    return _verify_jaccard_pairs(
        new_docs, cands, id_col, text_col, threshold, n, df_b=corpus_docs
    ).orderBy("id_a", "id_b")


def duplicated_sentence_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
) -> DataFrame:
    """Sentence-granularity duplicate detection (the CCNet-style boilerplate
    screen): per document, how many of its sentences occur verbatim in at
    least one OTHER document. Near-dup operators miss templated pages that
    share only scattered sentences; this catches them at the granularity
    removal actually happens.

    Sentences are normalized (trim + whitespace collapse + casefold) and
    split on terminal punctuation — deliberately the simple regex form so
    the DuckDB oracle is the identical expression (the linguistically
    careful splitter with abbreviation merge-back lives in
    operators/splitter.py for the chunking pipeline). Sentences under
    ``min_chars`` are ignored (fragments pair everything with everything).

    Same skew-safe join-free shape as :func:`duplicated_span_stats`:
    hash each kept sentence, collapse to distinct (id, hash) with counts
    (map-side combine), then one per-hash aggregate whose unique-to-one-
    doc rows (min==max) carry their doc id out directly —
    n_dup = n_sentences − n_uniq, no join back on the hash. A boilerplate
    sentence shared by millions of docs costs ≤1 row per doc in shuffle 1
    and is filtered by shuffle 2's combine; it never piles into one
    window partition.
    """
    sents = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]+"),
            lambda s: F.lower(F.trim(F.regexp_replace(s, r"\s+", " "))),
        ),
        lambda s: F.length(s) >= min_chars,
    )
    rows = (
        common.parallelize(df)
        .select(F.col(id_col).alias("id"), sents.alias("ss"))
        .filter(F.size("ss") > 0)
        .select("id", F.explode("ss").alias("s"))
        .select("id", F.xxhash64("s").alias("h"))
    )
    per_doc = rows.groupBy("id", "h").agg(F.count(F.lit(1)).alias("c"))
    uniq = (
        per_doc.groupBy("h")
        .agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.sum("c").alias("tc"),
        )
        .filter(F.col("lo") == F.col("hi"))
        .groupBy(F.col("lo").alias("id"))
        .agg(F.sum("tc").alias("n_uniq"))
    )
    totals = df.select(
        F.col(id_col).alias("id"), F.size(sents).cast("long").alias("n_sentences")
    ).filter(F.col("n_sentences") > 0)
    return (
        totals.join(uniq, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_sentences",
            (F.col("n_sentences") - F.coalesce(F.col("n_uniq"), F.lit(0))).alias(
                "n_dup_sentences"
            ),
        )
        .withColumn(
            "dup_sentence_frac",
            F.col("n_dup_sentences").cast("double")
            / F.col("n_sentences").cast("double"),
        )
        .orderBy(id_col)
    )


def q_duplicated_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_sentence_stats(table(spark, sf_dir, "documents"))


DUP_SENTENCES_SQL = r"""
WITH sents AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_split_to_array(text, '[.!?]+'),
                          s -> lower(trim(regexp_replace(s, '\s+', ' ', 'g')))),
           s -> length(s) >= 10) AS ss
  FROM documents
), rows_ AS (
  SELECT doc_id, unnest(ss) AS s FROM sents WHERE len(ss) > 0
), counts AS (
  SELECT s, MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM rows_ GROUP BY s
)
SELECT r.doc_id,
       COUNT(*) AS n_sentences,
       CAST(SUM(CASE WHEN c.mn != c.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sentences,
       CAST(SUM(CASE WHEN c.mn != c.mx THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_sentence_frac
FROM rows_ r JOIN counts c ON r.s = c.s
GROUP BY r.doc_id
ORDER BY r.doc_id
"""


# ------------------------------------------- duplicated-span REMOVAL

def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """The removal step of exact-substring dedup (Lee et al. 2022):
    every token covered by an ``n``-token span that also occurs in some
    OTHER document is cut; the surviving tokens are re-joined with single
    spaces (the operator is token-level by definition — original
    whitespace inside removed regions is gone anyway).

    Complements :func:`duplicated_span_stats` (the measurement) with the
    transformation a curation pipeline actually applies. Docs shorter
    than ``n`` tokens fall back to their single whole-doc span, matching
    the stats operator.

    Scale shape: span hashes stream as (id, pos, h) longs; the
    cross-document dup-hash set comes from the same skew-safe
    min!=max-per-hash aggregate; marking which positions to cut is a
    semi-join of the span stream against that (usually far smaller) set
    — broadcast when small, AQE-skew-split otherwise. The final cut is a
    row-local Arrow kernel over (tokens, sorted dup starts) — interval
    coverage by merge, never a per-token join.

    Returns (id, text_clean, n_tokens, n_tokens_removed).
    """
    base = _span_hash_stream(df, id_col, text_col, n, pos=True)
    dup_h = (
        base.groupBy("h")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    # posexplode positions are 0-based; starts are 1-based token
    # positions (mirroring the oracle's UNNEST(range(1, ...)) indexing)
    dup_pos = (
        base.join(dup_h, "h", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.col("pos") + 1)).alias("starts"))
    )
    docs = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    ).filter(F.size(TXT.words(F.col(text_col))) > 0)
    joined = docs.join(dup_pos, "id", "left")

    out_type = StructType(
        [
            StructField("text_clean", StringType()),
            StructField("n_tokens", LongType()),
            StructField("n_tokens_removed", LongType()),
        ]
    )

    span_n = n

    @F.pandas_udf(out_type)
    def _cut(text: pd.Series, starts: pd.Series) -> pd.DataFrame:
        outs, totals, removed = [], [], []
        for t, st in zip(text, starts):
            toks = t.split()
            m = len(toks)
            totals.append(m)
            if st is None or len(st) == 0:
                outs.append(" ".join(toks))
                removed.append(0)
                continue
            width = span_n if m >= span_n else m
            covered = np.zeros(m, dtype=bool)
            for p in st:  # starts are 1-based token positions
                covered[p - 1 : p - 1 + width] = True
            kept = [tok for tok, c in zip(toks, covered) if not c]
            outs.append(" ".join(kept))
            removed.append(int(covered.sum()))
        return pd.DataFrame(
            {"text_clean": outs, "n_tokens": totals, "n_tokens_removed": removed}
        )

    return (
        joined.select("id", _cut("__text", "starts").alias("c"))
        .select(
            F.col("id").alias(id_col),
            F.col("c.text_clean").alias("text_clean"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.n_tokens_removed").alias("n_tokens_removed"),
        )
        .orderBy(id_col)
    )


def q_strip_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return strip_duplicated_spans(table(spark, sf_dir, "documents"), n=20)


STRIP_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), nonempty AS (
  SELECT doc_id, ws, len(ws) AS m FROM toks WHERE len(ws) > 0
), spans AS (
  SELECT doc_id, m, t.i AS pos,
         CASE WHEN m >= 20
              THEN array_to_string(ws[t.i:t.i+19], ' ')
              ELSE array_to_string(ws, ' ') END AS g
  FROM nonempty, UNNEST(range(1, GREATEST(m - 18, 2))) AS t(i)
), dup_g AS (
  SELECT g FROM spans GROUP BY g HAVING MIN(doc_id) != MAX(doc_id)
), dup_pos AS (
  SELECT s.doc_id, s.pos, CASE WHEN s.m >= 20 THEN 20 ELSE s.m END AS width
  FROM spans s JOIN dup_g d ON s.g = d.g
), tokens AS (
  SELECT doc_id, m, t.j AS j, ws[t.j] AS tok
  FROM nonempty, UNNEST(range(1, m + 1)) AS t(j)
), marked AS (
  SELECT t.doc_id, t.m, t.j, t.tok,
         EXISTS (SELECT 1 FROM dup_pos d
                 WHERE d.doc_id = t.doc_id
                   AND d.pos <= t.j AND t.j < d.pos + d.width) AS covered
  FROM tokens t
)
SELECT doc_id,
       COALESCE(string_agg(tok, ' ' ORDER BY j) FILTER (WHERE NOT covered), '')
         AS text_clean,
       CAST(MAX(m) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tokens_removed
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


# ------------------------------------------------- winnowing fingerprints

def md5_prefix_hash(col):
    """Cross-engine 60-bit hash: first 15 hex chars of md5, parsed base 16.

    Bit-identical in Spark (``conv(substring(md5(x),1,15),16,10)``) and
    DuckDB (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``), which matters
    for winnowing because the algorithm SELECTS hashes (window minima):
    two engines agree on the fingerprint set only if they agree on hash
    VALUES, not just equality classes. The scale default elsewhere is
    xxhash64 (JVM codegen, ~5× cheaper); winnowing exposes ``hasher=`` so
    production runs switch back to xxhash64 once no oracle is in the loop.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _positional_gram_hashes(ws_b, k: int, hash_fn):
    """POSITIONAL (non-distinct) k-gram hashes — winnowing needs the gram
    sequence in document order, unlike the shingle-set builders above."""
    return F.transform(_word_grams(ws_b, k), hash_fn)


def _window_minima(hs_b, w: int):
    """Distinct sliding-window minima over the positional hash sequence —
    the winnowing selection rule (min hash per window of w grams; ties
    collapse to one value, and distinct windows sharing a minimum emit it
    once, per Schleimer et al. §4's 'record each ... once' rule)."""
    return F.array_distinct(TXT.windows(hs_b, w, F.array_min, F.array(F.array_min(hs_b))))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    hasher: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional word k-gram,
    slide a window of ``w`` hashes, keep each window's minimum. Guarantees
    any shared run of ``w + k - 1`` words between two documents shares at
    least one fingerprint, at ~2/(w+1) the density of full k-gram hashing.

    Scale shape: ENTIRELY row-local array algebra (split → gram hash →
    window min → distinct) in one projection — zero shuffles, no UDF; the
    per-doc fingerprint summary needs no aggregation at all. At 100 TB
    this is a map-only pass whose output is ~2/(w+1) × the gram count.

    Extends the reference's whole-document content hashing
    (datacontract.py:194-206) to sub-document granularity.
    """
    hash_fn = md5_prefix_hash if hasher == "md5" else (lambda c: F.xxhash64(c))
    # gram hashing is the CPU-dominant stage — spread one-file inputs
    # across cores first (no-op on naturally-partitioned big inputs; r7:
    # the single-partition md5 pass was most of winnow_overlap's 1.8 s)
    base = common.parallelize(df).select(
        F.col(id_col).alias("doc_id"), TXT.words(F.col(text_col)).alias("ws")
    ).filter(F.size("ws") > 0)
    hs = F.element_at(
        F.transform(F.array("ws"), lambda wsb: _positional_gram_hashes(wsb, k, hash_fn)), 1
    )
    with_fps = base.select(
        "doc_id",
        F.size(hs).alias("n_grams"),
        F.element_at(F.transform(F.array(hs), lambda h: _window_minima(h, w)), 1).alias(
            "fps"
        ),
    )
    summary = F.element_at(
        F.transform(
            F.array("fps"),
            lambda f: F.struct(
                F.size(f).alias("n_fingerprints"),
                F.array_min(f).alias("min_fp"),
                F.array_max(f).alias("max_fp"),
            ),
        ),
        1,
    )
    return with_fps.select("doc_id", "n_grams", summary.alias("s"), "fps").select(
        "doc_id", "n_grams", "s.*", "fps"
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.2,
    max_df: int | None = None,
    hasher: str = "md5",
) -> DataFrame:
    """MOSS-style overlap detection: pairs of documents ranked by shared
    winnowing fingerprints, ``overlap = |fps_a ∩ fps_b| / min(|fps_a|,
    |fps_b|)`` (containment form — robust to length mismatch).

    Scale shape: the shingle self-join family's own join
    (:func:`_overlap_pairs` over the already distinct fingerprint longs);
    per-doc fingerprint counts ride through the explode, so no extra
    aggregation join. ``max_df`` drops fingerprints appearing in more than
    that many docs (:func:`_cap_df`, the boilerplate guard of
    ngram_jaccard_pairs); the counts stay the uncapped fingerprint sets'.
    """
    fp = winnow_fingerprints(df, id_col, text_col, k, w, hasher).select(
        F.col("doc_id").alias("id"), F.col("n_fingerprints").alias("n"), F.explode("fps").alias("fp")
    )
    # Materialize ONCE: the md5 k-gram hashing (the dominant cost — one
    # hash per positional gram) feeds the cap's hot-fingerprint aggregate
    # and the self-join (plan-censused r6: 2 HashAggregate/md5 subtrees →
    # 1). The exploded table is 24 B/row, tiny next to the work it pins.
    fp = fp.localCheckpoint(eager=True)
    if max_df is not None:
        fp = _cap_df(fp, "fp", max_df)
    overlap = F.col("n_inter").cast("double") / F.least("n_a", "n_b").cast("double")
    return (
        _overlap_pairs(fp, "fp")
        .select("id_a", "id_b", F.col("n_inter").alias("n_shared"), overlap.alias("overlap"))
        .filter(F.col("overlap") >= threshold)
        .orderBy("id_a", "id_b")
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints(table(spark, sf_dir, "documents")).drop("fps")


WINNOW_FP_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), nonempty AS (
  SELECT doc_id, ws FROM toks WHERE len(ws) > 0
), grams AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 5
              THEN list_transform(range(1, len(ws) - 3),
                                  i -> array_to_string(ws[i:i+4], ' '))
              ELSE [array_to_string(ws, ' ')] END AS gs
  FROM nonempty
), hashes AS (
  SELECT doc_id,
         list_transform(gs, g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS hs
  FROM grams
), fps AS (
  SELECT doc_id, len(hs) AS n_grams,
         list_distinct(CASE WHEN len(hs) >= 4
              THEN list_transform(range(1, len(hs) - 2), j -> list_min(hs[j:j+3]))
              ELSE [list_min(hs)] END) AS f
  FROM hashes
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(f) AS BIGINT) AS n_fingerprints,
       list_min(f) AS min_fp,
       list_max(f) AS max_fp
FROM fps
ORDER BY doc_id
"""


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_overlap_pairs(
        table(spark, sf_dir, "documents"), threshold=0.2, max_df=CAPPED_MAX_DF
    )


def q_winnow_overlap_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION configuration of winnow overlap (VERDICT r6 Missing
    #3): ``hasher='xxhash64'`` — JVM-codegen hashing with no hex
    round-trip, measured 3.5× cheaper than the md5-prefix form on the
    fingerprint stage (PERF.md r6). Rows-only by design: winnowing
    SELECTS window-minimum hashes, so the fingerprint SET is
    hasher-dependent and no cross-engine oracle can exist — the md5 twin
    above remains the oracle-checked witness, and
    tests/test_dedup_hashers.py pins the hasher-INDEPENDENT guarantees
    (identical-doc pairs at overlap 1.0 under both hashers; the
    Schleimer §4 shared-run guarantee) so the fast path can't silently
    lose real overlaps. This is the query a 100 TB run executes."""
    return winnow_overlap_pairs(
        table(spark, sf_dir, "documents"),
        threshold=0.2,
        max_df=CAPPED_MAX_DF,
        hasher="xxhash64",
    )


WINNOW_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
  FROM documents
), nonempty AS (
  SELECT doc_id, ws FROM toks WHERE len(ws) > 0
), grams AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 5
              THEN list_transform(range(1, len(ws) - 3),
                                  i -> array_to_string(ws[i:i+4], ' '))
              ELSE [array_to_string(ws, ' ')] END AS gs
  FROM nonempty
), hashes AS (
  SELECT doc_id,
         list_transform(gs, g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS hs
  FROM grams
), docfp AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(hs) >= 4
              THEN list_transform(range(1, len(hs) - 2), j -> list_min(hs[j:j+3]))
              ELSE [list_min(hs)] END) AS f
  FROM hashes
), fp AS (
  SELECT doc_id, len(f) AS n_fps, unnest(f) AS fp FROM docfp
), capped AS (
  SELECT * FROM (
    SELECT doc_id, n_fps, fp, COUNT(*) OVER (PARTITION BY fp) AS dfc FROM fp
  ) WHERE dfc <= {CAPPED_MAX_DF}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       COUNT(*) AS n_shared,
       CAST(COUNT(*) AS DOUBLE) / LEAST(a.n_fps, b.n_fps) AS overlap
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.n_fps, b.n_fps
HAVING CAST(COUNT(*) AS DOUBLE) / LEAST(a.n_fps, b.n_fps) >= 0.2
ORDER BY id_a, id_b
"""


def merge_cluster_labels(
    labels: DataFrame, new_pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Incremental cluster maintenance: fold NEW near-dup pairs (e.g.
    from :func:`incremental_near_dup_pairs` over today's ingest) into an
    existing (doc_id, cluster_id) labeling WITHOUT recomputing pairs for
    the whole corpus — the published labeling is its own compressed edge
    set (every member → its component minimum, a star per component), so
    components are preserved exactly and new edges just merge stars.

    Cost ∝ |existing labeling| + |new pairs| — independent of corpus
    text. Output is identical to a full recompute over (old pairs ∪ new
    pairs): star edges reach the same components (parity-tested).
    """
    star_edges = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    merged = near_dup_cluster_members(
        star_edges.unionByName(new_pairs.select("id_a", "id_b")), max_iters
    ).localCheckpoint(eager=True)  # feeds the output AND the anti-join
    # near_dup_cluster_members emits only docs with at least one edge;
    # singleton rows (doc_id == cluster_id) in the INPUT labeling would
    # otherwise vanish from the merged output — carry them through
    # unless the new pairs pulled them into a component. The membership
    # side is dup-graph-sized (≪ corpus in any real labeling) — broadcast
    # it so the corpus-sized labels table never sort-merge-shuffles;
    # size-guarded like every other broadcast in this module.
    members = merged.select("doc_id")
    if common.fits(merged.count(), common.BROADCAST_MAX_ROWS):
        members = F.broadcast(members)
    singletons = labels.filter(F.col("doc_id") == F.col("cluster_id")).join(
        members, "doc_id", "left_anti"
    )
    return merged.unionByName(singletons)


def q_incremental_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental maintenance path as an oracle-checked query: docs
    with ``doc_id % 5 == 4`` play "today's ingest" — components are first
    built from pairs wholly inside the old corpus, then the new batch's
    pairs (anything touching a new doc) merge in via
    :func:`merge_cluster_labels`. By the star-compression property the
    result EQUALS a full recompute over all pairs, which is exactly what
    the DuckDB oracle computes — the incremental path itself is what the
    hash compare certifies. Pairs use the df-capped scale configuration.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=CAPPED_MAX_DF, sort=False
    ).localCheckpoint(eager=True)  # one pair computation feeds both halves
    # Driver-gated fold (r13, VERDICT r12 Next #6): the decomposition probe
    # showed the fold — not the pair family — was half the query's cost at
    # bench scale, and ALL of it was scheduling overhead: ~8 tiny jobs
    # (2 edge checkpoints, 2 gate counts, 2 Arrow pulls, the merged
    # checkpoint + its count) shuttling a few-hundred-edge graph
    # driver↔executors. Both sub-graphs (old pairs; star ∪ new) are
    # bounded by 2·n_pairs edges, so whenever 4·n_pairs fits the
    # union-find gate BOTH near_dup_cluster_members calls would take the
    # driver path anyway — run the SAME star-merge algebra driver-side on
    # ONE Arrow pull. Identical output by construction (union-find is the
    # certified driver path; star-compression algebra mirrored line for
    # line) — equivalence-tested against the fall-through in
    # tests/test_round13.py. Above the gate: the distributed path below,
    # unchanged.
    n_pairs = pairs.count()  # cheap: checkpointed
    if common.fits(4 * n_pairs, common.DRIVER_MAX_EDGES):
        pdf = pairs.select("id_a", "id_b").toPandas()
        ia = pdf["id_a"].astype("int64")
        ib = pdf["id_b"].astype("int64")
        # truncated remainder, like Spark's and DuckDB's % (pandas % floors)
        new_mask = (np.fmod(ia, 5) == 4) | (np.fmod(ib, 5) == 4)
        labels = _uf_roots(ia[~new_mask], ib[~new_mask])
        star = [(n, r) for n, r in labels.items() if n != r]
        second_src = [n for n, _ in star] + [int(x) for x in ia[new_mask]]
        second_dst = [r for _, r in star] + [int(x) for x in ib[new_mask]]
        merged = _uf_roots(second_src, second_dst)
        # singletons (doc_id == cluster_id not pulled into a component) —
        # vacuous for labels built from an edge set (every component ≥2
        # members, so every min-id node is some star edge's dst) but
        # mirrored from merge_cluster_labels for exactness.
        singles = [
            (n, n) for n, r in labels.items() if n == r and n not in merged
        ]
        rows = sorted(list(merged.items()) + singles)
        return spark.createDataFrame(
            rows, "doc_id long, cluster_id long"
        ).orderBy("doc_id")
    is_new_a = F.col("id_a") % 5 == 4
    is_new_b = F.col("id_b") % 5 == 4
    old_pairs = pairs.filter(~is_new_a & ~is_new_b)
    new_pairs = pairs.filter(is_new_a | is_new_b)
    labels = near_dup_cluster_members(old_pairs)
    return merge_cluster_labels(labels, new_pairs).orderBy("doc_id")


INCREMENTAL_CLUSTER_SQL = f"""
WITH RECURSIVE {_CAPPED_PAIRS_CTE},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
ORDER BY doc_id
"""


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    sort: bool = True,
    hot_df: int | None = 64,
) -> DataFrame:
    """All-pairs exact Jaccard via PREFIX FILTERING (PPJoin family, Xiao
    et al. 2008) — the LOSSLESS answer to the shingle self-join's d²
    hazard: order every document's shingles by global rarity and join
    only on each doc's first ``a − ⌈t·a⌉ + 1`` rarest shingles. If
    J(A,B) ≥ t the required overlap is ≥ ⌈t·a⌉ (any partner smaller than
    t·a cannot reach t at all), so the prefixes of every qualifying pair
    MUST intersect — candidates are a superset of answers, and the exact
    array-intersect verify restores precision. Output is IDENTICAL to
    :func:`ngram_jaccard_pairs` (same oracle certifies it), but a
    boilerplate shingle shared by 100k docs joins only through the few
    docs whose prefix it lands in, not d² times.

    Scale shape: one vocabulary-sized df aggregate, a per-doc rank
    window (partition = the doc's own shingle count), the prefix
    equi-join (rare shingles by construction → small fan-out), then a
    candidate-bounded verify joining each pair to its two shingle ARRAYS
    (array_intersect, row-local). No stage touches d² rows unless the
    ANSWER itself is d²-sized.

    Measured trade (PERF.md round-4 close): on a tame corpus the plain
    join wins (sf0.1: 2.1 s vs 4.1 s — the df aggregate + rank window +
    verify stages cost more than the small join saves); on a
    boilerplate-stress corpus (6 k docs sharing one trigram) prefix wins
    3× (5.7 s vs 17.0 s) and the gap grows quadratically with corpus
    size.

    ADAPTIVE plan choice (round 5, VERDICT r4 #3): the shingle df table
    is built for the prefix ranking anyway, so ONE extra max() over it
    tells us whether the corpus is hot at all. If the hottest shingle's
    document frequency is ≤ ``hot_df``, the worst single shingle
    contributes ≤ hot_df² join rows — the plain self-join is strictly
    cheaper than the rank-window + candidate-verify machinery, so we run
    it (on the already-checkpointed shingles). Above the threshold the
    full prefix filter runs. Both paths are exact; the SAME oracle
    certifies either plan. ``hot_df=None`` forces the prefix path
    (used by the boilerplate-stress probes in PERF.md).
    """
    from pyspark.sql import Window as W

    docs_arr = _word_hash_frame(df, id_col, text_col).select(
        "id", _shingle_hashes_from_whs(F.col("whs"), n).alias("arr")
    ).select("id", F.size("arr").alias("n"), "arr")
    docs_arr = docs_arr.localCheckpoint(eager=True)  # feeds prefix AND verify
    sh = docs_arr.select("id", "n", F.explode("arr").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfc"))
    if hot_df is not None:
        # Probe WITHOUT materializing the vocabulary table: the tame path
        # (the common case — every registered corpus takes it) never uses
        # dfreq, so checkpointing it first paid a materialization job for
        # nothing (r12; one job + one executor-disk write saved). The hot
        # path re-derives dfreq from the checkpointed shingles UNPINNED —
        # the vocab-grain grouping runs twice there (probe action + final
        # plan), deliberately: vocab grain scales with the corpus, so a
        # checkpoint would pin a data-scaling table (the convention bans
        # that), and only corpora that already pay the full prefix
        # machinery see the extra grouping.
        max_dfc = dfreq.agg(F.max("dfc")).collect()[0][0] or 0
        if max_dfc <= hot_df:
            # Tame corpus: the d² hazard is bounded by hot_df² per
            # shingle — the plain exact join (same shape as
            # ngram_jaccard_pairs, reusing the checkpointed shingles)
            # beats the prefix machinery by ~3× here.
            return _jaccard_at(_overlap_pairs(sh), threshold, sort)
    # o_min = ceil(t·n) computed with a 1e-9 guard: double rounding can
    # overshoot an exact integer product (0.55·100 → 55.000000000000007 →
    # ceil 56, one too many, which would SHORTEN the prefix below the
    # lossless bound). Subtracting epsilon can only lengthen the prefix
    # (never shorten it), so the filter stays lossless for every (t, n).
    o_min = F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
    prefix_len = (F.col("n") - o_min + 1).cast("int")
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.col("dfc").asc(), F.col("shingle").asc())
            ),
        )
        .filter(F.col("rn") <= prefix_len)
        .select("id", "n", "shingle")
    )
    av = docs_arr.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a"))
    bv = docs_arr.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b"))
    verified = (
        _overlap_pairs(prefix)
        .drop("n_inter")
        .join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    return _jaccard_at(verified, threshold, sort)


def q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard — shares the UNCAPPED oracle with
    ngram_jaccard_pairs: a hash-green row PROVES the pruning is lossless."""
    return ngram_jaccard_prefix_pairs(table(spark, sf_dir, "documents"), threshold=0.5)


# ------------------------------------------------------------- novelty


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    shingles whose first corpus occurrence (minimum doc id) is this doc —
    the curation signal that separates fresh content from recombinations
    of already-ingested text (boilerplate-heavy and templated docs score
    near 0, genuinely new material near 1). Deterministic under any
    ingest order because "first" is defined by the id, not arrival.

    Scale shape: shingle explode → ONE vocabulary aggregate
    (shingle → min id) → that table GROUPS BY its min-owner to one row
    per doc — so the per-doc merge is a join of two doc-cardinality
    tables, never a shingle-level join. Novelty is a single division of
    exact integers (cross-engine bit-exact).
    """
    sh = ngram_novelty_shingles(df, id_col, text_col, n)
    sh = sh.localCheckpoint(eager=True)  # feeds sizes AND firsts
    return ngram_novelty_from_shingles(sh, id_col)


def ngram_novelty_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle): the corpus pass of :func:`ngram_novelty` — one row
    per distinct shingle hash of each document. Also the staging unit of
    the streaming twin (streaming/novelty.py)."""
    return common.parallelize(df).select(
        F.col(id_col).alias("id"), F.explode(shingle_hashes(F.col(text_col), n)).alias("shingle")
    )


def ngram_novelty_from_shingles(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(``id_col``, n_shingles, n_novel, novelty) over (id, shingle) rows —
    the tail of :func:`ngram_novelty` and the streaming drain. A shingle is
    novel in the doc with its minimum id."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("id").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        sizes.join(novel, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            (
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(table(spark, sf_dir, "documents"))


NGRAM_NOVELTY_SQL = """
WITH sh AS (
  SELECT doc_id AS id, DISTINCT_SHINGLE AS shingle FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+2], ' '))
           ELSE [array_to_string(ws, ' ')] END)) AS DISTINCT_SHINGLE
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
          FROM documents)
  )
), sizes AS (
  SELECT id, COUNT(*) AS n_shingles FROM sh GROUP BY id
), novel AS (
  SELECT first_id AS id, COUNT(*) AS n_novel
  FROM (SELECT shingle, MIN(id) AS first_id FROM sh GROUP BY shingle)
  GROUP BY first_id
)
SELECT sizes.id AS doc_id,
       n_shingles,
       COALESCE(n_novel, 0) AS n_novel,
       CAST(COALESCE(n_novel, 0) AS DOUBLE) / n_shingles AS novelty
FROM sizes LEFT JOIN novel ON sizes.id = novel.id
ORDER BY doc_id
"""


def build_novelty_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Persistable NOVELTY index: one (shingle, first_id) row per distinct
    corpus shingle — the vocabulary-sized state that lets continuous
    ingestion score novelty without re-touching old text (the same
    pattern as build_near_dup_index for pairs). ~16 B/shingle."""
    return (
        common.parallelize(df)
        .select(
            F.col(id_col).alias("first_id"),
            F.explode(shingle_hashes(F.col(text_col), n)).alias("shingle"),
        )
        .groupBy("shingle")
        .agg(F.min("first_id").alias("first_id"))
    )


def incremental_ngram_novelty(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Novelty of a NEW batch against an indexed corpus: the fraction of
    each new doc's distinct shingles absent from the corpus index — the
    ingest-time novelty gate (cost ∝ batch + one shingle-keyed join
    against the index, never against corpus text).

    Relation to :func:`ngram_novelty`: for a doc NOT in the index, this
    equals the global definition with the corpus as "earlier" — the
    parity the tests pin."""
    sh = common.parallelize(new_docs).select(
        F.col(id_col).alias("id"),
        F.explode(shingle_hashes(F.col(text_col), n)).alias("shingle"),
    )
    hit = sh.join(index.select("shingle"), "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    seen = hit.groupBy("id").agg(F.count(F.lit(1)).alias("n_seen"))
    return (
        sizes.join(seen, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            (F.col("n_shingles") - F.coalesce(F.col("n_seen"), F.lit(0))).alias(
                "n_novel"
            ),
            (
                (F.col("n_shingles") - F.coalesce(F.col("n_seen"), F.lit(0))).cast(
                    "double"
                )
                / F.col("n_shingles")
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )


def q_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-time novelty gate as an oracle-checked query: docs with
    ``doc_id % 5 == 4`` play "today's batch", the rest are the indexed
    corpus — novelty = share of each new doc's shingles absent from the
    corpus index."""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    return incremental_ngram_novelty(new, build_novelty_index(old))


INCREMENTAL_NOVELTY_SQL = """
WITH sh AS (
  SELECT doc_id AS id, DISTINCT_SHINGLE AS shingle FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+2], ' '))
           ELSE [array_to_string(ws, ' ')] END)) AS DISTINCT_SHINGLE
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws
          FROM documents)
  )
), old_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE id % 5 != 4
), new_sh AS (
  SELECT id, shingle FROM sh WHERE id % 5 = 4
), sizes AS (
  SELECT id, COUNT(*) AS n_shingles FROM new_sh GROUP BY id
), seen AS (
  SELECT id, COUNT(*) AS n_seen
  FROM new_sh SEMI JOIN old_sh ON new_sh.shingle = old_sh.shingle
  GROUP BY id
)
SELECT sizes.id AS doc_id,
       n_shingles,
       n_shingles - COALESCE(n_seen, 0) AS n_novel,
       CAST(n_shingles - COALESCE(n_seen, 0) AS DOUBLE) / n_shingles AS novelty
FROM sizes LEFT JOIN seen ON sizes.id = seen.id
ORDER BY doc_id
"""


def decontamination_report(
    corpus: DataFrame,
    evals: DataFrame,
    bench_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-BENCHMARK contamination report: one row per eval suite
    (``bench_col`` of the eval table) with its distinct span count, how
    many corpus span positions hit it, and how many distinct corpus docs
    are touched — the go/no-go table a training run reads before trusting
    its benchmark numbers (the grouped form of
    :func:`decontamination_overlap`, which scores one suite per call).

    Scale shape: eval spans keep their benchmark tag — (bench, h)
    distinct pairs, still eval-sized → the corpus (id, h) stream joins it
    once (broadcast when small); aggregates are per-bench counts. The
    corpus side is computed ONCE for all benchmarks.
    """
    tagged = (
        _span_hash_stream(evals, id_col, text_col, n)
        .join(
            evals.select(F.col(id_col).alias("id"), F.col(bench_col).alias("bench")),
            "id",
        )
        .select("bench", "h")
        .distinct()
    )
    hits = _span_hash_stream(corpus, id_col, text_col, n).join(tagged, "h")
    per_bench = hits.groupBy("bench").agg(
        F.count(F.lit(1)).alias("n_span_hits"),
        F.countDistinct("id").alias("n_docs_hit"),
    )
    sizes = tagged.groupBy("bench").agg(F.count(F.lit(1)).alias("n_eval_spans"))
    return (
        sizes.join(per_bench, "bench", "left")
        .select(
            "bench",
            "n_eval_spans",
            F.coalesce(F.col("n_span_hits"), F.lit(0)).alias("n_span_hits"),
            F.coalesce(F.col("n_docs_hit"), F.lit(0)).alias("n_docs_hit"),
        )
        .orderBy("bench")
    )


def q_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 50th document plays an eval doc; its source column is the
    benchmark tag — one report row per suite."""
    docs = table(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 50 == 0)
    return decontamination_report(docs.filter(F.col("doc_id") % 50 != 0), evals)


DECONTAMINATION_REPORT_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
  FROM documents
), nonempty AS (
  SELECT doc_id, source, ws FROM toks WHERE len(ws) > 0
), spans AS (
  SELECT doc_id, source,
         CASE WHEN len(ws) >= 13
              THEN array_to_string(ws[i:i+12], ' ')
              ELSE array_to_string(ws, ' ') END AS g
  FROM nonempty, UNNEST(range(1, GREATEST(len(ws) - 11, 2))) AS t(i)
), eval_spans AS (
  SELECT DISTINCT source AS bench, g FROM spans WHERE doc_id % 50 = 0
), corpus AS (
  SELECT doc_id, g FROM spans WHERE doc_id % 50 != 0
), hits AS (
  SELECT e.bench, c.doc_id
  FROM corpus c JOIN eval_spans e ON c.g = e.g
), per_bench AS (
  SELECT bench, COUNT(*) AS n_span_hits, COUNT(DISTINCT doc_id) AS n_docs_hit
  FROM hits GROUP BY bench
), sizes AS (
  SELECT bench, COUNT(*) AS n_eval_spans FROM eval_spans GROUP BY bench
)
SELECT s.bench,
       s.n_eval_spans,
       COALESCE(p.n_span_hits, 0) AS n_span_hits,
       COALESCE(p.n_docs_hit, 0) AS n_docs_hit
FROM sizes s LEFT JOIN per_bench p ON s.bench = p.bench
ORDER BY s.bench
"""


# --------------------------------------------------- LSH parameter sweep

# (bands, rows) grids over one shared 24-slot signature
LSH_SWEEP_NUM_HASHES = 24
LSH_SWEEP_CONFIGS = ((24, 1), (12, 2), (8, 3), (6, 4), (4, 6), (3, 8), (2, 12))


def lsh_param_sweep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = LSH_SWEEP_NUM_HASHES,
    n: int = 3,
) -> DataFrame:
    """S-curve calibration for LSH banding: ONE shared ``num_hashes``-slot
    MinHash signature pass, then every (bands, rows) configuration on the
    grid is banded and bucket-counted, reporting per config the join-cost
    readout a threshold decision needs BEFORE committing to a full pair
    join: candidate_pair_slots (Σ C(bucket,2) — the exact number of pair
    comparisons the band join would do, multiplicity included),
    n_buckets_ge2, max_bucket, and the config's theoretical S-curve
    threshold (1/b)^(1/r) in permille.  Small r → recall-heavy (catches
    low Jaccard, huge join), large r → precision-heavy; the sweep shows
    where the cost curve bends for THIS corpus.

    Scale shape: signatures are computed once (the Arrow kernel,
    checkpointed); each config re-slices the cached 24-long arrays — a
    map-only pass per config over id+signature, NEVER re-reading text —
    and all configs share one (cfg, band, hash) groupBy with map-side
    combine.  Engine-hash internals (splitmix64/xxhash64) ⇒ rows-only;
    the S-curve monotonicity is pinned by fixture tests.
    """
    from functools import reduce as _reduce

    sigs = _signatures(
        _word_hash_frame(df, id_col, text_col), ("minhash",), num_hashes, n
    ).localCheckpoint(eager=True)
    parts = []
    for b, r in LSH_SWEEP_CONFIGS:
        bands_arr = F.array(
            *[
                # band index j is part of the bucket key (ADVICE r7): the
                # hash sees only slice VALUES, so without j equal r-length
                # signature content in two different bands of one config
                # would merge their buckets and overcount
                # candidate_pair_slots (r=1 configs band on raw slot
                # values, where cross-band equality is common).
                F.xxhash64(F.lit(j), F.slice("signature", j * r + 1, r))
                for j in range(b)
            ]
        )
        parts.append(
            sigs.select(
                F.lit(b).alias("b"),
                F.lit(r).alias("r"),
                F.explode(bands_arr).alias("h"),
            )
        )
    allb = _reduce(lambda a, x: a.unionByName(x), parts)
    # keying on (b, r, h) keeps the shuffle rows at 8B per band
    buckets = allb.groupBy("b", "r", "h").agg(F.count(F.lit(1)).alias("c"))
    stats = (
        buckets.filter(F.col("c") >= 2)
        .groupBy("b", "r")
        .agg(
            F.sum(F.expr("c * (c - 1) div 2")).alias("candidate_pair_slots"),
            F.count(F.lit(1)).alias("n_buckets_ge2"),
            F.max("c").alias("max_bucket"),
        )
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [
            (b, r, int(1000 * (1.0 / b) ** (1.0 / r)))
            for b, r in LSH_SWEEP_CONFIGS
        ],
        "b int, r int, threshold_permille long",
    )
    return (
        F.broadcast(grid)
        .join(stats, ["b", "r"], "left")
        .select(
            "b",
            "r",
            "threshold_permille",
            F.coalesce("candidate_pair_slots", F.lit(0))
            .cast("long")
            .alias("candidate_pair_slots"),
            F.coalesce("n_buckets_ge2", F.lit(0)).cast("long").alias("n_buckets_ge2"),
            F.coalesce("max_bucket", F.lit(0)).cast("long").alias("max_bucket"),
        )
        .orderBy("r", "b")
    )


def q_lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_param_sweep(table(spark, sf_dir, "documents"))


# ------------------------------------------------- LSH recall audit


def lsh_recall_audit(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Dedup-approximation governance: recall AND precision of the
    MinHash-LSH candidate pairs against the exact n-gram Jaccard pair
    set at the same threshold — the audit every fuzzy-dedup deployment
    runs before trusting banding parameters on a new corpus
    (NeMo-Curator-style parameter sign-off; [[lsh_param_sweep]] predicts
    the S-curve, THIS measures the realized operating point).

    One row: exact pairs, LSH pairs, their intersection, and integer
    permilles — recall = hits/exact, precision = hits/lsh. Uses the
    production configurations of BOTH sides (capped exact Jaccard =
    the scale-safe oracle'd config; xxhash64 MinHash banding = the
    engine-specific fast path), so the audit is rows-only by design
    (its inputs include the engine-specific hash family; the exact side
    is separately oracle-checked as ngram_jaccard_capped).

    Scale shape: both pair sets are the already-bounded family outputs;
    the audit adds one full-outer join on the canonical (id_a, id_b) key
    and a single global aggregate. Both families start from the same
    per-word xxhash64 pass over the corpus; below the shared
    ``CHECKPOINT_MAX_INPUT_BYTES`` gate the (id, word-hash-array) frame
    is pinned ONCE and fed to both sides (plus the LSH candidate
    verification), collapsing three text→split→hash scans into one.
    Above the gate — or when the size estimate is unavailable — the pin
    would scale with the corpus (8 B/word), so the unpinned fall-through
    keeps the two independent map-only passes of the 100 TB plan
    (the DSIR/rfm gated-shortcut convention; both paths are bit-equal —
    _shingle_hashes_from_whs is shingle_hashes by construction,
    equivalence-tested in tests/).
    """
    wh = None
    if common.input_fits(docs):
        wh = _word_hash_frame(docs, "doc_id", "text").localCheckpoint(eager=True)
    kw = {"max_df": max_df} if max_df is not None else {}
    exact = ngram_jaccard_pairs(docs, threshold=threshold, wh=wh, **kw).select(
        "id_a", "id_b", F.lit(1).alias("in_exact")
    )
    lsh = minhash_dedup_pairs(docs, threshold=threshold, wh=wh).select(
        "id_a", "id_b", F.lit(1).alias("in_lsh")
    )
    both = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    # outer COALESCE: a pair-free corpus aggregates zero rows, where
    # SUM returns NULL — the audit must publish honest zeros
    agg = both.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.coalesce(F.sum(F.coalesce("in_exact", F.lit(0))), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum(F.coalesce("in_lsh", F.lit(0))), F.lit(0)).alias("n_lsh"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_hits"),
    )
    pm = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, F.expr(f"div(1000 * {num}, {den})")
    ).otherwise(F.lit(-1))
    return agg.select(
        "n_exact",
        "n_lsh",
        "n_hits",
        "n_union",
        pm("n_hits", "n_exact").alias("recall_permille"),
        pm("n_hits", "n_lsh").alias("precision_permille"),
    )


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wurzel_spark.tables import table as _table

    return lsh_recall_audit(
        _table(spark, sf_dir, "documents"), threshold=0.5, max_df=CAPPED_MAX_DF
    )


# ------------------------------------------------- dup-pair evidence

EVIDENCE_TOP_PAIRS = 16
EVIDENCE_TOP_GRAMS = 3


def dup_pair_evidence(
    df: DataFrame,
    top_pairs: int = EVIDENCE_TOP_PAIRS,
    top_grams: int = EVIDENCE_TOP_GRAMS,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup EXPLAINABILITY: for the top near-dup pairs (by exact
    capped Jaccard), the rarest shared n-gram shingles as human-readable
    evidence — what a reviewer looks at before signing off a dedup
    threshold change ("these two docs share THESE exact phrases"). Rarity
    ranks by global document frequency ascending (ties lexicographic), so
    boilerplate shared by everyone never outranks the smoking-gun phrase.

    Scale shape: the pair set is the already-bounded capped family
    output; a TopK limit keeps ``top_pairs`` rows, whose ≤ 2·top_pairs
    doc ids SEMI-JOIN-prune the shingle table before the evidence
    intersect — so the per-pair work is bounded however large the
    corpus. The global gram-df aggregate is one linear groupBy (the same
    shuffle the pair family already pays). The df-cap applies to
    evidence too: a gram too frequent to count toward similarity can't
    be cited as evidence either (consistency with the pair scores).
    """
    from pyspark.sql import Window as W

    pairs = ngram_jaccard_pairs(
        df, n=n, threshold=threshold, sort=False, max_df=max_df
    )
    # top is consumed THREE times (the id prune, the pair broadcast, the
    # output) — without the cut each consumer re-runs the whole exact
    # pair-family subtree (measured: 9.2 s → ~2.8 s at sf0.1). 16 rows,
    # always safe to pin eagerly.
    top = (
        pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(top_pairs)
        .localCheckpoint(eager=True)
    )
    grams = common.parallelize(df).select(
        F.col("doc_id").alias("id"),
        F.explode(shingles(F.col("text"), n)).alias("gram"),
    )
    ids = (
        top.select(F.col("id_a").alias("id"))
        .unionByName(top.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # ≤ 2·top_pairs docs' shingles; the id prune applies BEFORE the
    # explode (Catalyst does not push a join below a Generate, so
    # filtering `grams` would shingle the whole corpus just to keep ~32
    # docs) — then pin, since BOTH evidence sides consume it
    pruned = (
        common.parallelize(df)
        .join(F.broadcast(ids), df["doc_id"] == ids["id"])
        .select("id", F.explode(shingles(F.col("text"), n)).alias("gram"))
        .localCheckpoint(eager=True)
    )
    # gram df still counts over the FULL corpus stream (rarity must be
    # global), but only the candidate pairs' grams can ever be cited —
    # semi-filtering the stream against that broadcast-small set first
    # shrinks the df groupBy shuffle from the whole shingle vocabulary
    # to ≤ 2·top_pairs docs' distinct grams (measured 4.6 → 4.1 s warm
    # at sf0.1 — the two corpus explode passes, not the shuffle, are
    # the remaining floor beside the pair family itself; identical
    # results, the evidence join was inner on gdf). At 100 TB the
    # saving is the one that matters: the vocabulary-sized exchange is
    # gone.
    # cand has ONE consumer (the broadcast semi below) — no checkpoint:
    # pinning it was one wasted scheduled job per run; the broadcast
    # subtree re-derives the distinct from the PINNED pruned blocks
    # (bounded: ≤ 2·top_pairs docs' grams), never from the corpus.
    cand = pruned.select("gram").distinct()
    gdf = (
        grams.join(F.broadcast(cand), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gram_df"))
    )
    if max_df is not None:
        gdf = gdf.filter(F.col("gram_df") <= max_df)
    ga = pruned.select(F.col("id").alias("id_a"), "gram")
    gb = pruned.select(F.col("id").alias("id_b"), "gram")
    shared = (
        F.broadcast(top)
        .join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .join(gdf, "gram")  # inner: capped-out grams drop from evidence
    )
    wp = W.partitionBy("id_a", "id_b").orderBy("gram_df", "gram")
    return (
        shared.withColumn("rank", F.row_number().over(wp))
        .filter(F.col("rank") <= top_grams)
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.col("rank").cast("int").alias("rank"),
            "gram",
            F.col("gram_df").cast("long").alias("gram_df"),
        )
        .orderBy("id_a", "id_b", "rank")
    )


def q_dup_pair_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_pair_evidence(
        table(spark, sf_dir, "documents"), max_df=CAPPED_MAX_DF
    )


def _dup_pair_evidence_sql() -> str:
    capped = NGRAM_JACCARD_CAPPED_SQL.strip()
    capped = capped[: capped.rindex("ORDER BY id_a, id_b")]
    return rf"""
WITH pairs AS (
  {capped}
), top_pairs AS (
  SELECT id_a, id_b, jaccard FROM pairs
  ORDER BY jaccard DESC, id_a, id_b LIMIT {EVIDENCE_TOP_PAIRS}
), grams AS (
  SELECT doc_id AS id, unnest(list_distinct(
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 1),
                             i -> array_to_string(ws[i:i+2], ' '))
         ELSE [array_to_string(ws, ' ')] END)) AS gram
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS ws
        FROM documents)
), gdf AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS gram_df FROM grams GROUP BY gram
  HAVING COUNT(*) <= @MAXDF@
), shared AS (
  SELECT t.id_a, t.id_b, t.jaccard, g.gram, d.gram_df
  FROM top_pairs t
  JOIN grams ga ON ga.id = t.id_a
  JOIN grams g ON g.id = t.id_b AND g.gram = ga.gram
  JOIN gdf d ON d.gram = g.gram
), ranked AS (
  SELECT id_a, id_b, jaccard, gram, gram_df,
         ROW_NUMBER() OVER (PARTITION BY id_a, id_b
                            ORDER BY gram_df, gram) AS rank
  FROM shared
)
SELECT id_a, id_b, jaccard, CAST(rank AS INT) AS rank, gram, gram_df
FROM ranked WHERE rank <= {EVIDENCE_TOP_GRAMS}
ORDER BY id_a, id_b, rank
"""


DUP_PAIR_EVIDENCE_SQL = _dup_pair_evidence_sql().replace("@MAXDF@", str(CAPPED_MAX_DF))


# --------------------------------------------- dedup verdict matrix


def dedup_verdict_matrix(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Cross-family dedup governance: one row of overlap counts between
    the FOUR dedup signals a pipeline can fire on a document — exact
    content-hash duplication (non-representative copies), capped n-gram
    near-duplication (either side of a pair), intra-doc duplicated
    spans, and SemDeDup embedding drops — the [[filter_agreement_stats]]
    of the dedup side: how much of each family's drop set is unique
    signal vs already covered by a cheaper family (the question that
    decides whether the expensive embedding pass earns its cost on THIS
    corpus).

    Verdicts reuse the production configurations of their families
    (capped Jaccard, seed-celled SemDeDup) — drift-proof by
    construction, the C4 lesson. Exact-dup grouping runs as a WINDOW
    over the content hash in both engines (a join on the hash would
    silently drop NULL-text docs — NULL never equi-joins, but window
    partitions group NULLs identically in both engines).

    Scale shape: the component families carry their own probe
    certificates; the matrix adds three doc-grain left joins and ONE
    global aggregate. Docs absent from a family (no spans window, no
    embedding row) default to an honest false."""
    from pyspark.sql import Window as W

    from wurzel_spark.operators.similarity import semdedup_keep

    h = F.sha2(F.col("text"), 256)
    wh = W.partitionBy("h")
    exact = docs.select("doc_id", h.alias("h")).select(
        "doc_id",
        (
            (F.count(F.lit(1)).over(wh) > 1)
            & (F.col("doc_id") != F.min("doc_id").over(wh))
        ).alias("v_exact"),
    )
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, sort=False, max_df=CAPPED_MAX_DF
    )
    near = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("v_near", F.lit(True))
    )
    spans = duplicated_span_stats(docs, n=20).select(
        "doc_id", (F.col("n_dup_spans") > 0).alias("v_span")
    )
    keep = semdedup_keep(
        emb, emb.filter(F.col("vec_id") < 8), threshold=0.4
    ).select(F.col("vec_id").alias("doc_id"), F.lit(True).alias("kept"))
    sem = (
        emb.select(F.col("vec_id").alias("doc_id"))
        .distinct()
        .join(keep, "doc_id", "left")
        .select("doc_id", F.col("kept").isNull().alias("v_sem"))
    )
    v = (
        exact.join(near, "doc_id", "left")
        .join(spans, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "v_exact",
            F.coalesce("v_near", F.lit(False)).alias("v_near"),
            F.coalesce("v_span", F.lit(False)).alias("v_span"),
            F.coalesce("v_sem", F.lit(False)).alias("v_sem"),
        )
    )

    def cnt(cond):
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long")

    names = ["exact", "near", "span", "sem"]
    duos = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[cnt(F.col(f"v_{n}")).alias(f"n_{n}") for n in names],
        *[
            cnt(F.col(f"v_{a}") & F.col(f"v_{b}")).alias(f"n_{a}_{b}")
            for a, b in duos
        ],
        cnt(
            F.col("v_exact") | F.col("v_near") | F.col("v_span") | F.col("v_sem")
        ).alias("n_any"),
    )


def q_dedup_verdict_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_verdict_matrix(
        table(spark, sf_dir, "documents"), table(spark, sf_dir, "embeddings")
    )


def _verdict_matrix_sql() -> str:
    from wurzel_spark.operators.similarity import SEMDEDUP_SQL

    def strip(sql: str) -> str:
        s = sql.strip()
        return s[: s.rindex("ORDER BY")]

    duos = [("exact", "near"), ("exact", "span"), ("exact", "sem"),
            ("near", "span"), ("near", "sem"), ("span", "sem")]
    duo_cols = ",\n       ".join(
        f"CAST(COALESCE(SUM(CASE WHEN v_{a} AND v_{b} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_{a}_{b}"
        for a, b in duos
    )
    return f"""
WITH near_pairs AS (
  {strip(NGRAM_JACCARD_CAPPED_SQL)}
), span_stats AS (
  {strip(DUP_SPANS_SQL)}
), sem_keep AS (
  {strip(SEMDEDUP_SQL)}
), exactv AS (
  SELECT doc_id,
         (COUNT(*) OVER (PARTITION BY sha256(text)) > 1
          AND doc_id != MIN(doc_id) OVER (PARTITION BY sha256(text))) AS v_exact
  FROM documents
), nearv AS (
  SELECT DISTINCT id AS doc_id, TRUE AS v_near FROM (
    SELECT id_a AS id FROM near_pairs UNION ALL SELECT id_b FROM near_pairs
  )
), semv AS (
  SELECT e.vec_id AS doc_id, k.vec_id IS NULL AS v_sem
  FROM (SELECT DISTINCT vec_id FROM embeddings) e
  LEFT JOIN sem_keep k ON k.vec_id = e.vec_id
), v AS (
  SELECT x.v_exact,
         COALESCE(n.v_near, FALSE) AS v_near,
         COALESCE(s.n_dup_spans > 0, FALSE) AS v_span,
         COALESCE(m.v_sem, FALSE) AS v_sem
  FROM exactv x
  LEFT JOIN nearv n ON n.doc_id = x.doc_id
  LEFT JOIN span_stats s ON s.doc_id = x.doc_id
  LEFT JOIN semv m ON m.doc_id = x.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN v_exact THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(SUM(CASE WHEN v_near THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_near,
       CAST(COALESCE(SUM(CASE WHEN v_span THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_span,
       CAST(COALESCE(SUM(CASE WHEN v_sem THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sem,
       {duo_cols},
       CAST(COALESCE(SUM(CASE WHEN v_exact OR v_near OR v_span OR v_sem THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_any
FROM v
"""


DEDUP_VERDICT_SQL = _verdict_matrix_sql()


# ------------------------------------------ blocked-Levenshtein entity pairs

ENTITY_MAX_D = 2
ENTITY_BLOCK_CAP = 256


def _name_vocab_blocks(df: DataFrame, name_col: str) -> DataFrame:
    """Distinct-name vocab with row multiplicities and block keys — the
    standard entity-resolution reduction: edit distance runs on the
    VOCAB (V distinct names, grows ~Heaps-sublinearly), never on rows.
    Block = the last whitespace token (the category/surname-style key
    every blocking textbook starts with)."""
    from pyspark.sql import Window as W

    vocab = (
        df.filter(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            "name",
            "n_rows",
            F.element_at(F.split(F.col("name"), " "), -1).alias("blk"),
            F.length("name").alias("len"),
        )
    )
    return vocab.withColumn(
        "blk_size", F.count(F.lit(1)).over(W.partitionBy("blk"))
    )


def name_edit_near_pairs(
    df: DataFrame,
    name_col: str = "p_name",
    max_d: int = ENTITY_MAX_D,
    block_cap: int = ENTITY_BLOCK_CAP,
) -> DataFrame:
    """Entity-resolution matching: near-identical name pairs by exact
    Levenshtein distance ≤ max_d within blocking-key groups — the
    fuzzy-join primitive behind supplier/customer master-data dedup
    (reference's exact-hash DropDuplicationStep has no fuzzy tier;
    this is the string-space analog of the embedding-space near-dup
    family). Candidates form ONLY inside a block (last name token)
    within a length band (|Δlen| ≤ max_d — the Levenshtein lower
    bound), and oversized blocks (> block_cap distinct names) are
    excluded wholesale, the df-cap convention — [[entity_blocking_stats]]
    reports how much the caps dropped.

    Exactness: unit-cost Levenshtein is the same integer in both
    engines; pair key orders name_a < name_b; row multiplicities come
    from the vocab counts.

    Scale shape: one corpus-grain grouped count (the vocab build);
    blocking + the length band bound the pair join to Σ_blk min(size,
    cap)² over VOCAB-sized rows."""
    v = _name_vocab_blocks(df, name_col).filter(F.col("blk_size") <= block_cap)
    a = v.select(
        F.col("name").alias("name_a"),
        F.col("n_rows").alias("n_rows_a"),
        "blk",
        F.col("len").alias("len_a"),
    )
    b = v.select(
        F.col("name").alias("name_b"),
        F.col("n_rows").alias("n_rows_b"),
        "blk",
        F.col("len").alias("len_b"),
    )
    pairs = (
        a.join(b, "blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_d)
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_distance"),
            "n_rows_a",
            "n_rows_b",
        )
        .filter(F.col("edit_distance") <= max_d)
    )
    return pairs.orderBy("name_a", "name_b")


def q_name_edit_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return name_edit_near_pairs(table(spark, sf_dir, "part"))


NAME_EDIT_PAIRS_SQL = f"""
WITH vocab AS (
  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         string_split(p_name, ' ')[-1] AS blk,
         length(p_name) AS len
  FROM part WHERE p_name IS NOT NULL GROUP BY p_name
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY blk) AS blk_size FROM vocab
), v AS (
  SELECT * FROM sized WHERE blk_size <= {ENTITY_BLOCK_CAP}
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_distance,
       a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
FROM v a JOIN v b ON a.blk = b.blk AND a.name < b.name
         AND ABS(a.len - b.len) <= {ENTITY_MAX_D}
WHERE levenshtein(a.name, b.name) <= {ENTITY_MAX_D}
ORDER BY name_a, name_b
"""


def entity_blocking_stats(
    df: DataFrame,
    name_col: str = "p_name",
    max_d: int = ENTITY_MAX_D,
    block_cap: int = ENTITY_BLOCK_CAP,
) -> DataFrame:
    """Blocking sign-off for [[name_edit_near_pairs]]: one row of the
    reduction the blocking scheme buys vs all-pairs — n_rows, distinct
    names, blocks, capped-out blocks (and the names inside them), the
    candidate count the length-banded block join actually materializes,
    matched pairs, and reduction_permille = 1000·candidates // allpairs
    (V·(V−1)/2). The record-linkage literature's RR/PC readout: pair it
    with a recall check in tests (pairs planted across blocks are the
    known misses).

    Scale shape: everything after the vocab build is vocab-sized; the
    candidate count is a SUM of per-block products, not a materialized
    join."""
    v = _name_vocab_blocks(df, name_col)
    total = v.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_names"),
    )
    blocks = v.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
    )
    bstats = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.when(F.col("sz") > block_cap, 1).otherwise(0))
        .cast("long")
        .alias("n_blocks_capped"),
    )
    kept = _name_vocab_blocks(df, name_col).filter(F.col("blk_size") <= block_cap)
    a = kept.select(F.col("name").alias("name_a"), "blk", F.col("len").alias("len_a"))
    b = kept.select(F.col("name").alias("name_b"), "blk", F.col("len").alias("len_b"))
    cand = (
        a.join(b, "blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_d)
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.sum(
                F.when(F.levenshtein("name_a", "name_b") <= max_d, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_matched_pairs"),
        )
    )
    return (
        total.crossJoin(bstats)
        .crossJoin(cand)
        .select(
            "n_rows",
            "n_names",
            "n_blocks",
            "n_blocks_capped",
            "n_candidate_pairs",
            "n_matched_pairs",
            # allpairs = V(V−1)/2 exactly, so 1000·c/(V(V−1)/2) clears to
            # 2000·c // (V(V−1)) — Spark `/` on longs would return DOUBLE.
            F.expr(
                "CASE WHEN n_names > 1 THEN CAST(div(2000 * n_candidate_pairs,"
                " n_names * (n_names - 1)) AS BIGINT) ELSE NULL END"
            ).alias("reduction_permille"),
        )
    )


def q_entity_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_blocking_stats(table(spark, sf_dir, "part"))


ENTITY_BLOCKING_SQL = f"""
WITH vocab AS (
  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         string_split(p_name, ' ')[-1] AS blk,
         length(p_name) AS len
  FROM part WHERE p_name IS NOT NULL GROUP BY p_name
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY blk) AS blk_size FROM vocab
), total AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_names
  FROM vocab
), bstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CASE WHEN sz > {ENTITY_BLOCK_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blocks_capped
  FROM (SELECT blk, COUNT(*) AS sz FROM vocab GROUP BY blk)
), cand AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
         CAST(SUM(CASE WHEN levenshtein(a.name, b.name) <= {ENTITY_MAX_D}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_pairs
  FROM (SELECT * FROM sized WHERE blk_size <= {ENTITY_BLOCK_CAP}) a
  JOIN (SELECT * FROM sized WHERE blk_size <= {ENTITY_BLOCK_CAP}) b
    ON a.blk = b.blk AND a.name < b.name AND ABS(a.len - b.len) <= {ENTITY_MAX_D}
)
SELECT n_rows, n_names, n_blocks, n_blocks_capped,
       n_candidate_pairs, n_matched_pairs,
       CASE WHEN n_names > 1
            THEN (2000 * n_candidate_pairs) // (n_names * (n_names - 1))
            ELSE NULL END AS reduction_permille
FROM total, bstats, cand
"""
