"""Versioned-collection sink protocol.

Reference parity (SURVEY §2.6): every vector-store sink follows
create `{COLLECTION}_v{n+1}` → bulk insert → flip alias → retire old
(QdrantConnectorStep wurzel/steps/qdrant/step.py:35-283, version regex
:246-257, alias :224-236; CollectionRetirer retirement.py:21-117 keeps the
newest N=10, settings.py:36; MilvusConnectorStep milvus/step.py:26-155).

Design for Spark:
  - the bulk insert is ``df.foreachPartition(upload_batch)`` with
    client-side batching (1024 points/batch, qdrant/settings.py:46) and
    DETERMINISTIC point ids (row_number over a declared ordering — the
    reference's insertion counter, qdrant/step.py:72-77, is not
    reproducible under task retries; deterministic ids make uploads
    idempotent, SURVEY §7 hard parts)
  - create/alias/retire are driver-side metadata calls AFTER the
    distributed write completes (step.finalize parity, qdrant/step.py:66-70)

Backends implement a 6-method protocol; LocalCollectionBackend (filesystem)
ships for tests and offline runs; Qdrant/Milvus clients plug in behind the
same protocol (gated import — not installed here).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_SIZE = 1024  # qdrant/settings.py:46
HISTORY_LEN = 10  # qdrant/settings.py:36
_VERSION_RE = re.compile(r"^(?P<base>.+)_v(?P<n>\d+)$")  # qdrant/step.py:246-257


class CollectionBackend:
    """Protocol: what a vector store must support (the subset of the
    qdrant/milvus client APIs the reference uses)."""

    def list_collections(self) -> list[str]:
        raise NotImplementedError

    def create_collection(self, name: str, schema: dict) -> None:
        raise NotImplementedError

    def upsert_batch(self, name: str, points: list[dict]) -> None:
        raise NotImplementedError

    def set_alias(self, alias: str, name: str) -> None:
        raise NotImplementedError

    def get_alias(self, alias: str) -> str | None:
        raise NotImplementedError

    def list_aliases(self) -> dict[str, str]:
        """alias -> collection for every alias the store knows. Backends
        without a listing endpoint may return {} (retirement then protects
        only history_len-recent versions, not foreign aliases)."""
        return {}

    def drop_collection(self, name: str) -> None:
        raise NotImplementedError


class LocalCollectionBackend(CollectionBackend):
    """Filesystem-backed collection store: one dir per collection version,
    JSONL part files, alias as a JSON pointer file. Used by tests; also a
    reasonable offline artifact format.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def list_collections(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(self._p(d))
        )

    def create_collection(self, name: str, schema: dict) -> None:
        os.makedirs(self._p(name), exist_ok=True)
        with open(os.path.join(self._p(name), "_schema.json"), "w") as f:
            json.dump(schema, f)

    def upsert_batch(self, name: str, points: list[dict]) -> None:
        # idempotent under retries: file named by the batch's min id;
        # written via temp + os.replace so a speculative duplicate attempt
        # can never interleave with (or truncate under) the winner.
        if not points:
            return
        part = os.path.join(self._p(name), f"part-{points[0]['id']:012d}.jsonl")
        tmp = f"{part}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            for p in points:
                f.write(json.dumps(p, sort_keys=True) + "\n")
        os.replace(tmp, part)

    def set_alias(self, alias: str, name: str) -> None:
        with open(os.path.join(self.root, f"{alias}.alias.json"), "w") as f:
            json.dump({"alias": alias, "collection": name}, f)

    def get_alias(self, alias: str) -> str | None:
        p = os.path.join(self.root, f"{alias}.alias.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["collection"]

    def list_aliases(self) -> dict[str, str]:
        out = {}
        for f in os.listdir(self.root):
            if f.endswith(".alias.json"):
                with open(os.path.join(self.root, f)) as fh:
                    d = json.load(fh)
                out[d["alias"]] = d["collection"]
        return out

    def drop_collection(self, name: str) -> None:
        shutil.rmtree(self._p(name), ignore_errors=True)


@dataclass
class VersionedCollectionWriter:
    """The create→insert→alias→retire protocol, backend-agnostic."""

    backend_factory: object  # Callable[[], CollectionBackend], picklable
    collection: str
    history_len: int = HISTORY_LEN
    batch_size: int = BATCH_SIZE

    def next_version(self, backend: CollectionBackend) -> str:
        """{COLLECTION}_v{n+1} from existing versions (qdrant/step.py:238-257)."""
        n = 0
        for c in backend.list_collections():
            m = _VERSION_RE.match(c)
            if m and m.group("base") == self.collection:
                n = max(n, int(m.group("n")))
        return f"{self.collection}_v{n + 1}"

    def write(
        self,
        df: DataFrame,
        order_col: str,
        history: str = "",
        hash_col: str | None = None,
    ) -> str:
        """Distributed bulk insert with deterministic ids, then finalize.

        ids are dense 1-based ranks over ``order_col`` (reproducible —
        replaces the reference's in-process counter, qdrant/step.py:72-77),
        assigned WITHOUT a global window: a range repartition on
        ``order_col`` + within-partition sort gives a total order across
        ordered partitions; a per-partition count action yields prefix-sum
        offsets, and each upload task numbers its rows from its partition's
        offset (zipWithIndex pattern). The count and the upload are two
        actions on one RDD, so the range sample and the range shuffle run
        once and both actions see the same bounds. Two DataFrame actions
        would each sample their own bounds, seeded from their own sampling
        RDD's id; once an input partition held more rows than the sample
        takes from it (about ``60 × n_parts / input partitions``) they
        could disagree, and ids would repeat or skip. A single-task
        ``Window.orderBy`` would funnel the whole dataset through one
        executor — fatal at 100 TB.
        The foreachPartition upload batches ``batch_size`` points per call
        (qdrant/step.py:144-155) and is idempotent under Spark task retries
        (same partition ⇒ same sorted rows ⇒ same ids).

        ``hash_col`` names the text column to stamp with the reference's
        payload hashes (qdrant/step.py:259-283): ``text_sha256_hash`` plus
        ``text_tlsh_hash`` — now the REAL TLSH digest (functions/tlsh.py,
        round 5: full spec algorithm with match semantics; the C library
        is used verbatim when importable). Null for unhashable text, the
        same contract as the reference's HAS_TLSH gate. Both computed
        map-side during the upload pass, no extra job.
        """
        if hash_col is not None:
            from wurzel_spark.functions import text as TXT
            from wurzel_spark.functions.tlsh import tlsh_col

            df = df.withColumn(
                "text_sha256_hash", TXT.sha256_hex(F.col(hash_col))
            ).withColumn("text_tlsh_hash", tlsh_col(F.col(hash_col)))

        backend = self.backend_factory()
        name = self.next_version(backend)
        backend.create_collection(name, {"columns": df.columns})

        staged = df.withColumn("collection", F.lit(name))
        if history:
            staged = staged.withColumn("history", F.lit(history))

        # An explicit partition count, which AQE does not coalesce: the
        # upload keeps n_parts parallel tasks.
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        parted = staged.repartitionByRange(n_parts, F.col(order_col)).sortWithinPartitions(
            order_col
        )
        # Building the RDD runs the range sample and the range shuffle once;
        # the count and the upload below both read that one shuffle output,
        # so they see the same range bounds.
        rdd = parted.rdd
        counts = rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        offsets = list(itertools.accumulate([0] + counts[:-1]))  # by partition id

        factory = self.backend_factory
        batch_size = self.batch_size

        def upload(rows) -> None:
            from pyspark import TaskContext

            be = factory()
            next_id = offsets[TaskContext.get().partitionId()] + 1
            batch: list[dict] = []
            for r in rows:
                d = r.asDict(recursive=True)
                d["id"] = next_id
                next_id += 1
                batch.append(d)
                if len(batch) >= batch_size:
                    be.upsert_batch(name, batch)
                    batch = []
            be.upsert_batch(name, batch)

        rdd.foreachPartition(upload)
        self.finalize(backend, name)
        return name

    def finalize(
        self,
        backend: CollectionBackend,
        name: str,
        dry_run: bool = False,
        retirement_enabled: bool = True,
        usage_fetcher=None,
    ) -> None:
        """Alias flip + retirement (qdrant/step.py:66-70, :224-236;
        retirement.py:21-117: keep newest ``history_len``, never an aliased
        or recently-used one; ``dry_run`` only logs)."""
        from wurzel_spark.sinks.retirement import CollectionRetirer

        backend.set_alias(self.collection, name)
        CollectionRetirer(
            backend,
            history_len=self.history_len,
            dry_run=dry_run,
            enabled=retirement_enabled,
            usage_fetcher=usage_fetcher,
        ).retire(self.collection)
