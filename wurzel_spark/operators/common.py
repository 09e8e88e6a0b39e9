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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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
