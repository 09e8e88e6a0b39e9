"""Every size gate in the package decides here.

Below a gate, work takes a shortcut: it runs driver-side (union-find,
PageRank, k-core, Lloyd, the two-phase rank's offsets, the near-dup
core), broadcasts a small side, or pins a SMALL reused intermediate with
``localCheckpoint``. Above it — or when the size is unknown — the
bit-equal distributed twin runs. Each gate site measures its size and
asks :func:`fits`, always through the module (``common.fits(...)``, never
a ``from``-import), so forcing :func:`fits` to ``False`` sends every gate
in the package to its fall-through at once; the test suite's
``gates_off`` fixture and its repo-wide gates-off sweep do exactly
that. Shared limits live here; a limit only one module knows stays a
private constant there but still decides through :func:`fits`.

Gate sites (14 in 7 modules): dedup ×6 — union-find, membership
broadcast, incremental fold, the lsh_recall_audit pin, and the near-dup
core's driver twin (its input bytes, then its band-join pair count);
graph ×3 — pagerank, supplier_pagerank, k-core; textstats DSIR pin;
relational rfm pin; selection two-phase sources; similarity kmeans;
ordering broadcast.

The module also holds the one banded-LSH candidate join,
:func:`band_pairs`, which the MinHash, SimHash, cosine, bitext and md5
audit pair operators all band through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver-side graph algorithms (union-find, quantized PageRank, k-core)
# run at or under this many directed edges: ≤ ~16 MB of long pairs,
# milliseconds of CPU, instead of per-round distributed job overhead.
DRIVER_MAX_EDGES = 1_000_000
# Broadcast a membership side of at most this many rows (≈32 MB of longs).
BROADCAST_MAX_ROWS = 4_000_000
# Byte budget for gated checkpoint shortcuts. Below this input size the
# pin is cheap and saves a second scan; above it (or when the size is
# unknown) the two-scan plan runs instead.
CHECKPOINT_MAX_INPUT_BYTES = 1 << 28  # 256 MiB
# Byte budget for pulling a corpus's word hashes to the driver (the
# near-dup core's driver twin): one Arrow pull and numpy instead of the
# distributed signature, band-join and verify jobs. Set below the
# measured crossover on 4 cores: the twin won every family at 1.1 MiB of
# estimated input, tied the distributed twin on combined_near_dup_pairs
# at 2.3 MiB and lost it at 5.7 MiB, where its single-core signature
# pass alone took 3 s (PERF.md, "Where the driver twin stops paying").
DRIVER_MAX_INPUT_BYTES = 1 << 21  # 2 MiB


def fits(size: int | None, limit: int) -> bool:
    """The one size-gate decision: True takes the shortcut. An unknown
    size (None) counts as too big — the conservative path."""
    return size is not None and size <= limit


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for the frame's optimized plan —
    metadata-only (parquet footer / relation stats), no job runs. None
    when the estimate is unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def input_fits(df: DataFrame) -> bool:
    """Whether ``df``'s estimated size fits the checkpoint byte budget."""
    return fits(plan_size_bytes(df), CHECKPOINT_MAX_INPUT_BYTES)


def driver_input_fits(df: DataFrame) -> bool:
    """Whether ``df``'s estimated size fits the driver-pull byte budget."""
    return fits(plan_size_bytes(df), DRIVER_MAX_INPUT_BYTES)


def pin_if_small(frame: DataFrame, gate_df: DataFrame) -> DataFrame:
    """``frame`` pinned (eager ``localCheckpoint``) when ``gate_df``'s
    input fits the budget; otherwise ``frame`` unchanged, so its lineage
    simply runs once per consumer (the DSIR / rfm convention)."""
    return frame.localCheckpoint(eager=True) if input_fits(gate_df) else frame


def parallelize(df: DataFrame) -> DataFrame:
    """Spread a compute-heavy map stage across all cores.

    Small parquet inputs arrive as 1-2 partitions (one per file split); a
    CPU-bound expression (hashing every shingle 32×) then runs on one core.
    A round-robin repartition costs one cheap shuffle of the raw text and
    buys full parallelism. The decision reads the plan's size estimate, so
    no job runs: a frame smaller than ``defaultParallelism`` ×
    ``spark.sql.files.maxPartitionBytes`` is repartitioned, since only a
    scan at least that large is sure to split into that many partitions
    by itself. A larger frame, or one of unknown size, is left alone — at
    100 TB this is a no-op. The rule changes layout, never rows, so it is
    not a size gate and stays outside :func:`fits`.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = plan_size_bytes(df)
    return df.repartition(target) if size is not None and size < target * split else df


def _projects_a_checkpoint(df: DataFrame) -> bool:
    """Whether ``df`` only selects (or renames) columns of a checkpointed
    frame. Python UDFs and other expressions are not plain columns."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() == "Project":
        exprs = node.projectList()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if e.nodeName() == "Alias":
                e = e.child()
            if e.nodeName() != "AttributeReference":
                return False
        node = node.child()
    return node.nodeName() == "LogicalRDD" and node.rdd().isCheckpointed()


def pin(df: DataFrame) -> DataFrame:
    """``df`` pinned with an eager ``localCheckpoint`` — unless it only
    selects columns of a checkpoint already, whose blocks a second pin
    would merely copy (one job per pin)."""
    return df if _projects_a_checkpoint(df) else df.localCheckpoint()


def band_pairs(df: DataFrame, bands: str, other: DataFrame | None = None) -> DataFrame:
    """The one banded-LSH candidate join. ``df`` holds ``(id, <bands>,
    *carried)``, ``bands`` an array column of per-band values; rows that
    share a value at the same band index pair up. Returns ``(id_a, id_b,
    a_<c>…, b_<c>…)`` for every carried column c of each side.

    Without ``other`` it is the self-join of ``df`` (id_a < id_b); with
    it, id_a comes from ``df`` and id_b from ``other`` (same bands
    column), and no id predicate applies.

    Each exploded row carries its whole bands array, so a pair sharing j
    bands is kept only at its FIRST shared band — a per-row filter in
    place of a distinct() shuffle over the pair set. The join does not
    pin; callers pin where they need to (the near-dup signature kernel's
    output, see ``dedup.lsh_candidate_pairs``).
    """

    def banded(s: DataFrame) -> DataFrame:
        return s.select("*", F.posexplode(bands).alias("band_idx", "band_value"))

    a = banded(df)
    b = a if other is None else banded(other)
    a, b = a.alias("a"), b.alias("b")
    on = (F.col("a.band_idx") == F.col("b.band_idx")) & (
        F.col("a.band_value") == F.col("b.band_value")
    )
    if other is None:
        on = on & (F.col("a.id") < F.col("b.id"))
    first_shared = F.expr(
        f"array_position(zip_with(a.{bands}, b.{bands}, (x, y) -> x = y), true) - 1"
    )

    def carried(s: DataFrame, side: str) -> list:
        return [
            F.col(f"{side}.{c}").alias(f"{side}_{c}") for c in s.columns if c not in ("id", bands)
        ]

    return (
        a.join(b, on)
        .filter(F.col("a.band_idx") == first_shared)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *carried(df, "a"),
            *carried(df if other is None else other, "b"),
        )
    )
