"""Corpus snapshot diffing — the incremental-ingest planner.

A continuously-maintained 100 TB corpus is re-crawled/re-exported in
snapshots; the expensive downstream stages (embedding, indexing, KB
upload) must run on the DELTA, not the corpus. ``snapshot_diff`` compares
two snapshots by content hash and emits one row per changed identity:
``added`` (id only in new), ``removed`` (id only in old), ``changed``
(both, different content). Unchanged rows are dropped — at scale the
delta is orders of magnitude smaller than the snapshots.

Extends the reference's hash-identity machinery (content sha256 is the
dedup/idempotence key throughout: datacontract.py:194-206,
qdrant/step.py:282) from within-run identity to BETWEEN-run change
detection; pairs with the versioned sink (upload the delta, flip the
alias) and incremental near-dup maintenance (index only ``added`` +
``changed`` docs).

Scale shape: two map-side sha2 projections + ONE full outer join keyed
on the id — a single co-partitioned shuffle of (id, 32-byte hash), never
of document text. Filter and status derivation are row-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.tables import table


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, status ∈ {added, removed, changed}) between two snapshots.
    Content identity = sha256 of the text column (the reference's
    identity rule); unchanged ids are dropped."""
    oh = old.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("old_hash")
    )
    nh = new.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("new_hash")
    )
    joined = oh.join(nh, "id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        joined.select(F.col("id").alias(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic two-snapshot scenario over the documents table: the old
    snapshot is missing every 7th-residue doc (they're "new crawls"), the
    new snapshot drops every 13th-residue doc (they're "expired") and
    rewrites the text of every 11th-residue doc (re-crawled content)."""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 3).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 13 != 5)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return snapshot_diff(old, new).orderBy("doc_id", "status")


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, sha256(text) AS old_hash FROM documents WHERE doc_id % 7 != 3
), new AS (
  SELECT doc_id,
         sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' [v2]' ELSE text END) AS new_hash
  FROM documents WHERE doc_id % 13 != 5
), j AS (
  SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id, old_hash, new_hash
  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
)
SELECT doc_id,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash != new_hash THEN 'changed' END AS status
FROM j
WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash != new_hash
ORDER BY doc_id, status
"""


# ------------------------------------------------------------- CDC / merge

#: ops understood by the changeset appliers
CDC_UPSERT = "upsert"
CDC_DELETE = "delete"


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate_unique: bool = False,
) -> DataFrame:
    """MERGE a changeset into a snapshot: ``changes`` rows are
    (id, op ∈ {upsert, delete}, text); the result is the base minus every
    touched id, plus the upserted rows — i.e. ``MERGE INTO base USING
    changes`` with matched-update/matched-delete/not-matched-insert
    semantics, the table-maintenance half of :func:`snapshot_diff`
    (diff produces the changeset, this applies it).

    Scale shape: ONE left-anti join of base against the (small) change
    keys + a union — base text never shuffles (anti join carries only
    ids); the changeset is broadcast when it fits. If an id appears more
    than once in ``changes``: when a ``change_seq`` column exists the
    LAST op wins (row_number over id ordered by change_seq desc — the
    reduction is one window over the SMALL changeset, never the base);
    without it, pass ``validate_unique=True`` to fail fast on duplicate
    ids (one grouped count over the changeset), else duplicate upserts
    pass through as plain union semantics (ADVICE r6: behavior now
    matches this docstring exactly)."""
    if "change_seq" in changes.columns:
        from pyspark.sql.window import Window

        w = Window.partitionBy(id_col).orderBy(F.col("change_seq").desc())
        changes = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "change_seq")
        )
    elif validate_unique:
        dups = [
            r[id_col]
            for r in changes.groupBy(id_col)
            .count()
            .filter(F.col("count") > 1)
            .orderBy(id_col)
            .limit(20)
            .collect()
        ]
        if dups:
            raise ValueError(
                f"apply_changeset: duplicate ids in changeset without a "
                f"change_seq column (first {len(dups)}): {dups}"
            )
    keys = changes.select(F.col(id_col)).distinct()
    kept = base.join(F.broadcast(keys), id_col, "left_anti")
    ups = changes.filter(F.col("op") == CDC_UPSERT).select(id_col, text_col)
    return kept.select(id_col, text_col).unionByName(ups)


def write_partitioned_table(
    df: DataFrame, table_dir: str, n_parts: int, id_col: str = "doc_id"
) -> None:
    """Materialize a snapshot as ``table_dir/part=K/`` parquet with
    ``K = pmod(xxhash64(id), n_parts)`` — the deterministic id→partition
    map :func:`merge_into_parquet` prunes against."""
    out = df.withColumn("part", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts)))
    out.write.mode("overwrite").partitionBy("part").parquet(table_dir)


def merge_into_parquet(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    n_parts: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[int]:
    """Partition-pruned physical merge: apply a changeset to a
    :func:`write_partitioned_table` layout by REWRITING ONLY the
    partitions whose hash bucket contains a changed id; every other
    partition's files are untouched. Returns the rewritten partition ids.

    This is the 100 TB shape of snapshot maintenance: a daily delta
    touching 0.1% of ids rewrites ~0.1% of partitions (each a
    self-contained merge of one bucket), not the table. The id→partition
    map is the same hash both sides, so each bucket's merge is LOCAL —
    no cross-partition shuffle at all; the driver loop is over the
    (bounded, typically small) affected-bucket list. Deletes of absent
    ids and upserts of new ids land in their hash bucket like any other.
    """
    from wurzel_spark.streaming._fs import delete_path, path_exists, rename_path

    ch = changes.withColumn(
        "part", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts))
    ).localCheckpoint(eager=True)
    affected = sorted(r["part"] for r in ch.select("part").distinct().collect())
    for part in affected:
        pdir = f"{table_dir}/part={part}"
        tmp = f"{table_dir}/part={part}__merge_tmp"
        # Recover a crash mid-merge BEFORE reading: a complete tmp
        # (parquet _SUCCESS) means the old dir may already be deleted —
        # finish the rename; an incomplete tmp is a partial job output
        # with the old dir intact — discard it. (The _state.py fold's
        # staged-rename protocol, applied per bucket.)
        if path_exists(spark, tmp):
            if path_exists(spark, f"{tmp}/_SUCCESS") and not path_exists(spark, pdir):
                rename_path(spark, tmp, pdir)
            else:
                delete_path(spark, tmp)
        part_changes = ch.filter(F.col("part") == part).drop("part")
        if path_exists(spark, pdir):
            # existence-checked, NOT try/except: a read failure on an
            # existing dir (corruption, permissions) must abort the merge
            # loudly — swallowing it would silently empty the bucket
            base = spark.read.parquet(pdir)
        else:  # genuinely new bucket
            base = spark.createDataFrame([], f"{id_col} long, {text_col} string")
        merged = apply_changeset(base, part_changes, id_col, text_col)
        # staged write: tmp first (reads the old dir — no localCheckpoint
        # needed since the source is not touched), delete old, rename in
        merged.write.mode("overwrite").parquet(tmp)
        delete_path(spark, pdir)
        rename_path(spark, tmp, pdir)
    return affected


def cdc_snapshot_at(
    log: DataFrame,
    at_ts,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Time-travel read over a CDC log (id, ts, op, text): the table
    state as of ``at_ts`` — the LATEST op per id with ``ts <= at_ts``
    wins (ties broken by preferring the later-sorting op so
    delete-then-upsert at one timestamp resolves deterministically), and
    ids whose winner is a delete are absent.

    Scale shape: one filtered window (partition by id, order by ts desc)
    — at 100 TB the log is partitioned by id so rank is co-located; no
    joins."""
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.col("ts").desc(), F.col("op").desc())
    return (
        log.filter(F.col("ts") <= at_ts)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") == CDC_UPSERT))
        .select(id_col, text_col)
    )


def _synthetic_changes(docs: DataFrame) -> DataFrame:
    """Deterministic changeset over the documents table: delete the
    13-residue ids, rewrite the 11-residue ids, insert fresh ids at
    +1_000_000 for the 17-residue ids."""
    deletes = (
        docs.filter(F.col("doc_id") % 13 == 5)
        .select("doc_id", F.lit(CDC_DELETE).alias("op"), F.lit(None).cast("string").alias("text"))
    )
    updates = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id", F.lit(CDC_UPSERT).alias("op"), F.concat(F.col("text"), F.lit(" [v2]")).alias("text")
    )
    inserts = docs.filter(F.col("doc_id") % 17 == 2).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.lit(CDC_UPSERT).alias("op"),
        F.concat(F.lit("fresh: "), F.col("text")).alias("text"),
    )
    return deletes.unionByName(updates).unionByName(inserts)


def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics over the documents table with the synthetic
    changeset; output (doc_id, content sha256) so the oracle checks the
    exact post-merge state without hauling text through the compare."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merged = apply_changeset(docs, _synthetic_changes(docs))
    return merged.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha256")
    ).orderBy("doc_id")


CDC_APPLY_SQL = """
WITH changes AS (
  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
  FROM documents WHERE doc_id % 13 = 5
  UNION ALL
  SELECT doc_id, 'upsert', text || ' [v2]' FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 1000000, 'upsert', 'fresh: ' || text FROM documents WHERE doc_id % 17 = 2
), kept AS (
  SELECT d.doc_id, d.text FROM documents d
  ANTI JOIN changes c ON d.doc_id = c.doc_id
), merged AS (
  SELECT doc_id, text FROM kept
  UNION ALL
  SELECT doc_id, text FROM changes WHERE op = 'upsert'
)
SELECT doc_id, sha256(text) AS content_sha256 FROM merged ORDER BY doc_id
"""


# The synthetic CDC log behind q_cdc_snapshot_at and q_scd2_intervals:
# every doc inserted at t0+(id%7) days, 11-residue docs updated at day
# 10, 13-residue docs deleted at day 20.
_CDC_T0 = "2026-01-01 00:00:00"


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    t0 = F.to_timestamp(F.lit(_CDC_T0))
    ins = docs.select(
        "doc_id",
        F.timestamp_add("DAY", (F.col("doc_id") % 7).cast("int"), t0).alias("ts"),
        F.lit(CDC_UPSERT).alias("op"),
        "text",
    )
    upd = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.timestamp_add("DAY", F.lit(10), t0).alias("ts"),
        F.lit(CDC_UPSERT).alias("op"),
        F.concat(F.col("text"), F.lit(" [v2]")).alias("text"),
    )
    dele = docs.filter(F.col("doc_id") % 13 == 5).select(
        "doc_id",
        F.timestamp_add("DAY", F.lit(20), t0).alias("ts"),
        F.lit(CDC_DELETE).alias("op"),
        F.lit(None).cast("string").alias("text"),
    )
    return ins.unionByName(upd).unionByName(dele)


# DuckDB twin of _cdc_log.
_CDC_LOG_CTE = f"""log AS (
  SELECT doc_id,
         TIMESTAMP '{_CDC_T0}' + INTERVAL (doc_id % 7) DAY AS ts,
         'upsert' AS op, text
  FROM documents
  UNION ALL
  SELECT doc_id, TIMESTAMP '{_CDC_T0}' + INTERVAL 10 DAY,
         'upsert', text || ' [v2]'
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, TIMESTAMP '{_CDC_T0}' + INTERVAL 20 DAY,
         'delete', CAST(NULL AS VARCHAR)
  FROM documents WHERE doc_id % 13 = 5
)"""


def q_cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read over the synthetic CDC log (:func:`_cdc_log`) AS
    OF day 15 — updates visible, deletes not yet applied."""
    at = F.timestamp_add("DAY", F.lit(15), F.to_timestamp(F.lit(_CDC_T0)))
    state = cdc_snapshot_at(_cdc_log(spark, sf_dir), at)
    return state.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha256")
    ).orderBy("doc_id")


CDC_SNAPSHOT_AT_SQL = f"""
WITH {_CDC_LOG_CTE}, ranked AS (
  SELECT doc_id, op, text,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ts DESC, op DESC) AS rn
  FROM log
  WHERE ts <= TIMESTAMP '{_CDC_T0}' + INTERVAL 15 DAY
)
SELECT doc_id, sha256(text) AS content_sha256
FROM ranked WHERE rn = 1 AND op = 'upsert'
ORDER BY doc_id
"""


# --------------------------------------------- SCD2 interval build


def scd2_intervals(
    log: DataFrame,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    payload_col: str = "text",
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a CDC log:
    one row per upsert VERSION with ``[valid_from, valid_to)`` bounds —
    the warehouse-standard temporal table that [[cdc_snapshot_at]]'s
    point read and [[cdc_apply_changes]]'s head state both project out
    of; with the interval table materialized, any as-of read is a
    ``valid_from <= t < valid_to`` filter (partition-prunable on
    valid_from at scale) instead of a per-read window over the log.

    Semantics: versions order by (ts, op) within id; an upsert opens an
    interval, the NEXT change of any kind closes it (a delete is a
    tombstone — it closes the last interval and contributes no row);
    the open interval (valid_to NULL) is current iff the id's last
    change is an upsert.  version_n numbers upserts from 1.

    Scale shape: ONE id-partitioned ordered window (lead + row_number
    from the same frame) over the change log — no self-join, no as-of
    loop."""
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(ts_col, "op")
    timed = log.select(
        id_col,
        ts_col,
        "op",
        payload_col,
        F.lead(ts_col).over(w).alias("valid_to"),
    )
    ups = timed.filter(F.col("op") == CDC_UPSERT)
    wv = W.partitionBy(id_col).orderBy(ts_col, "op")
    # high-end-date sentinel (2200: inside pandas' ns range, the warehouse convention scaled to the tooling) (NULL valid_to
    # also breaks NaT-vs-NaT value comparison in pandas-side consumers)
    return ups.select(
        id_col,
        F.row_number().over(wv).cast("long").alias("version_n"),
        F.col(ts_col).alias("valid_from"),
        F.col("valid_to").isNull().alias("is_current"),
        F.coalesce(
            F.col("valid_to"), F.to_timestamp(F.lit("2200-01-01 00:00:00"))
        ).alias("valid_to"),
        payload_col,
    ).select(
        id_col, "version_n", "valid_from", "valid_to", "is_current", payload_col
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history over the synthetic CDC log (:func:`_cdc_log`):
    updated docs carry two versions with touching bounds, deleted docs'
    last interval closes at the tombstone, everything else is a single
    current row."""
    hist = scd2_intervals(_cdc_log(spark, sf_dir))
    return hist.select(
        "doc_id",
        "version_n",
        "valid_from",
        "valid_to",
        "is_current",
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    ).orderBy("doc_id", "version_n")


SCD2_SQL = f"""
WITH {_CDC_LOG_CTE}, timed AS (
  SELECT doc_id, ts, op, text,
         LEAD(ts) OVER (PARTITION BY doc_id ORDER BY ts, op) AS valid_to
  FROM log
), ups AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ts, op)
              AS BIGINT) AS version_n,
         ts AS valid_from,
         COALESCE(valid_to, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
         valid_to IS NULL AS is_current,
         text
  FROM timed WHERE op = 'upsert'
)
SELECT doc_id, version_n, valid_from, valid_to, is_current,
       sha256(text) AS content_sha256
FROM ups ORDER BY doc_id, version_n
"""
