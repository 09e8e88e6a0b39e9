"""Passthrough knowledge-base uploader sinks.

One generic implementation covers the reference's three KB sinks — they
share the same skeleton (SURVEY §2.6):
  - WonderfulRAGStep (wurzel/steps/wonderful/step.py:26-386): 2-phase
    create/update per doc + post-upload sync; prune stale docs
  - ElevenLabsKnowledgeBaseStep (elevenlabs/step.py:31-358): deterministic
    doc names from URL + lineage tag; prune scoped by lineage
  - DecagonKnowledgeBaseStep (decagon/step.py:21-161): remote chunking then
    per-chunk create

Shared mechanics re-expressed for Spark:
  - uploads run in ``foreachPartition`` with a per-partition client and
    retry w/ full-jitter exponential backoff (wonderful/step.py:41-47,
    elevenlabs/step.py:108-121)
  - doc names derive deterministically from (url, history) so task retries
    are idempotent (elevenlabs/step.py:38-49)
  - prune-stale = LEFT ANTI join of the remote listing against the input's
    names, scoped to this pipeline's history tag (elevenlabs/step.py:284)
"""

from __future__ import annotations

import hashlib
import random
import time
from dataclasses import dataclass, field
from logging import getLogger

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = getLogger(__name__)

MAX_RETRIES = 3  # wonderful/step.py:67
BACKOFF_BASE = 0.5  # wonderful/step.py:68


def doc_name(url: str, history: str) -> str:
    """Deterministic doc name from (url, lineage) — elevenlabs/step.py:38-49."""
    return hashlib.sha256(f"{history}::{url}".encode()).hexdigest()[:32]


def doc_name_col(url, history: str):
    """Column twin of :func:`doc_name` — JVM-side sha2/concat, no Python UDF."""
    return F.substring(
        F.sha2(
            F.concat(F.lit(f"{history}::"), F.coalesce(url, F.lit(""))).cast("binary"),
            256,
        ),
        1,
        32,
    )


def history_tag(*chain: str) -> str:
    """Lineage scope tag from an upstream step chain — elevenlabs/step.py:144-165.

    ``("SourceA", "KBStep")`` → ``"SourceA-KBStep/"``; empty chain → ``""``
    (no extra scoping, matching a step run outside the executor).
    """
    tag = "-".join(c for c in chain if c)
    return f"{tag}/" if tag else ""


def url_doc_name(url: str, idx: int, prefix: str = "", tag: str = "", ext: str = "") -> str:
    """Reference-exact URL-mirror document name (elevenlabs/step.py:235-250,
    wonderful/step.py:234-243): mirror the URL path so the same URL always
    maps to the same document, e.g.
    ``https://example.com/tmcz/baze/magenta-wi-fi`` →
    ``tmcz/baze/magenta-wi-fi``; no path → ``document_{idx:04d}``. Prefixed
    with NAME_PREFIX and the history tag so distinct upstream sources never
    collide in the update-in-place / prune namespace. ``ext=".md"`` gives
    the Wonderful dialect (extension appended unless already present).

    :func:`doc_name` (sha256 of url+lineage) stays the generic sink default —
    index-based fallbacks are retry-fragile for distributed uploads — but
    this is the name a reference user sees in the remote workspace.
    """
    from urllib.parse import urlparse

    name = f"document_{idx:04d}{ext}"
    if url:
        path = urlparse(url).path.strip("/")
        if path:
            name = path if (not ext or path.endswith(ext)) else path + ext
    return f"{prefix}{tag}{name}"


def url_doc_name_col(url, idx, prefix: str = "", tag: str = "", ext: str = ""):
    """Column twin of :func:`url_doc_name` — JVM-side parse_url/regexp, no
    Python UDF. ``idx`` is a Column (e.g. a precomputed stable index)."""
    path = F.regexp_replace(
        F.coalesce(F.parse_url(F.coalesce(url, F.lit("")), F.lit("PATH")), F.lit("")),
        r"^/+|/+$",
        "",
    )
    if ext:
        path = F.when(
            (path != "") & ~path.endswith(ext), F.concat(path, F.lit(ext))
        ).otherwise(path)
    base = F.when(path != "", path).otherwise(
        F.concat(F.lit("document_"), F.lpad(idx.cast("string"), 4, "0"), F.lit(ext))
    )
    return F.concat(F.lit(f"{prefix}{tag}"), base)


class NonRetryableError(RuntimeError):
    """An error that must NOT be retried — e.g. a read timeout on a create:
    the server may already have processed the request, so re-sending risks a
    duplicate (elevenlabs/step.py:104-116). Raised by clients to stop
    :func:`retry_call` from re-sending a non-idempotent call."""


def _is_read_timeout(exc: Exception) -> bool:
    """True for a read-timeout-class error (request reached the server but
    the response never arrived — the one case where retrying a create is
    unsafe). Connect timeouts are NOT read timeouts: the request never got
    out, so re-sending is always safe (elevenlabs/step.py:104-123)."""
    try:
        import requests

        if isinstance(exc, requests.exceptions.ConnectTimeout):
            return False
        return isinstance(exc, requests.exceptions.ReadTimeout | requests.exceptions.Timeout)
    except ImportError:  # pragma: no cover — requests is present on this box
        return type(exc).__name__ in {"ReadTimeout", "Timeout"}


def _should_retry(exc: Exception) -> bool:
    """Typed retry discriminator (elevenlabs/step.py:104-123):

    - :class:`NonRetryableError` — never (the client judged re-sending unsafe)
    - HTTP 429 / 5xx — transient server-side, retry
    - other HTTP 4xx — permanent client error, never retry
    - connection-class / unknown errors — retry (the request may not have
      reached the server at all)
    """
    if isinstance(exc, NonRetryableError):
        return False
    status = getattr(exc, "status", None)
    if status is None:
        resp = getattr(exc, "response", None)
        status = getattr(resp, "status_code", None)
    if isinstance(status, int):
        return status == 429 or status >= 500
    return True


def retry_call(fn, *args, max_retries: int = MAX_RETRIES, base: float = BACKOFF_BASE):
    """Full-jitter exponential backoff (elevenlabs/step.py:125-142).

    Only transient errors are retried (see :func:`_should_retry`); permanent
    HTTP 4xx errors and :class:`NonRetryableError` propagate immediately.
    """
    for attempt in range(max_retries + 1):
        try:
            return fn(*args)
        except Exception as exc:
            if attempt == max_retries or not _should_retry(exc):
                raise
            time.sleep(random.uniform(0, base * (2**attempt)))


class KBClient:
    """Protocol for a remote knowledge base (subset used by the sinks)."""

    def list_docs(self, tag: str) -> list[str]:
        raise NotImplementedError

    def upsert_doc(self, name: str, payload: dict) -> None:
        raise NotImplementedError

    def delete_doc(self, name: str) -> None:
        raise NotImplementedError

    def scoped_name(self, name: str, tag: str) -> str:
        """The full remote name this client stores ``name`` under for
        lineage ``tag``. Dialects that prefix names (ElevenLabs: NAME_PREFIX
        + history tag, elevenlabs/step.py:199) override this so the sink's
        prune can compare remote listings against input names in the SAME
        namespace — comparing scoped against unscoped names makes every
        just-uploaded doc look stale and prunes the whole namespace."""
        return name

    def sync(self) -> None:  # wonderful/step.py:151 fire-and-forget
        pass


class LocalKBClient(KBClient):
    """Filesystem-backed test double. Must be cross-process: upload runs in
    Spark's Python workers while list/prune run on the driver — an
    in-memory dict would silently see nothing.
    """

    def __init__(self, root: str):
        import os

        self.root = root
        os.makedirs(root, exist_ok=True)

    def _p(self, name: str) -> str:
        import os

        return os.path.join(self.root, f"{name}.json")

    def list_docs(self, tag: str) -> list[str]:
        import json
        import os

        out = []
        for f in sorted(os.listdir(self.root)):
            if f.endswith(".json"):
                with open(os.path.join(self.root, f)) as fh:
                    if json.load(fh).get("history") == tag:
                        out.append(f[: -len(".json")])
        return out

    def upsert_doc(self, name: str, payload: dict) -> None:
        import json

        with open(self._p(name), "w") as f:
            json.dump(payload, f, sort_keys=True)

    def delete_doc(self, name: str) -> None:
        import contextlib
        import os

        with contextlib.suppress(FileNotFoundError):
            os.remove(self._p(name))


@dataclass
class KBUploaderSink:
    """Generic passthrough KB sink: upload every doc, optionally prune
    remote docs (same lineage) that are no longer in the input.

    ``exclude_url_substr`` drops docs whose URL contains the substring
    (case-insensitive) from the upload AND from the prune keep-set, so the
    KB mirrors the filtered input — the reference's hardcoded "neverejn"
    non-public filter generalized (wonderful/step.py:328-333: matches both
    Czech genders neverejny/neverejna via the stem).
    """

    client_factory: object  # Callable[[], KBClient], picklable
    history: str = ""
    prune: bool = True
    exclude_url_substr: str = ""
    uploaded_names: list = field(default_factory=list)

    def _uploadable(self, df: DataFrame) -> DataFrame:
        """The rows that actually go to the KB: excluded URLs dropped, one
        row per doc name (two inputs mapping to the same name must issue
        one upsert, not a create race — wonderful/step.py:158-178,346).
        Name grain == doc grain, so the dedupe window is partitioned."""
        from pyspark.sql import Window

        if self.exclude_url_substr:
            df = df.filter(
                ~F.lower(F.coalesce(F.col("url"), F.lit(""))).contains(
                    self.exclude_url_substr.lower()
                )
            )
        order = next(
            (F.col(c).desc_nulls_last() for c in ("md", "text") if c in df.columns),
            F.col("url"),
        )
        w = Window.partitionBy(doc_name_col(F.col("url"), self.history)).orderBy(order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _prune_stale(self, client, data_df: DataFrame) -> None:
        """Best-effort prune: per-doc failures are logged, never raised
        (elevenlabs/step.py:284-305, wonderful/step.py:207-231 — a prune
        failure must not fail a run whose uploads already persisted)."""
        history = self.history
        remote = client.list_docs(history)
        spark = data_df.sparkSession
        remote_df = spark.createDataFrame(
            [(n,) for n in remote] or [(None,)], "name string"
        ).filter(F.col("name").isNotNull())
        # compare in the client's namespace: listings return SCOPED
        # names (prefix + lineage tag), so scope the input names the
        # same way before the anti-join
        scope = client.scoped_name("", history)
        current = data_df.select(
            F.concat(F.lit(scope), doc_name_col(F.col("url"), history)).alias("name")
        ).distinct()
        stale = remote_df.join(current, "name", "left_anti")
        # KB listings are service-bounded (thousands of docs, not data
        # rows) — the collect() here is a small control-plane result.
        failed = 0
        for row in stale.collect():
            try:
                retry_call(client.delete_doc, row["name"])
            except Exception as e:  # noqa: BLE001 — best-effort by contract
                failed += 1
                log.warning("failed to prune %s: %s", row["name"], e)
        if failed:
            log.warning("%d stale doc(s) could not be pruned", failed)

    def _publish(self, to_upload: DataFrame, keep: DataFrame) -> None:
        """Upload ``to_upload`` (one client per partition), prune remote
        docs of this lineage missing from ``keep``, then trigger the sync
        re-index."""
        history = self.history
        factory = self.client_factory

        def upload(rows) -> None:
            client = factory()
            for r in rows:
                d = r.asDict(recursive=True)
                name = doc_name(d.get("url", ""), history)
                payload = {**d, "history": history, "name": name}
                retry_call(client.upsert_doc, name, payload)

        to_upload.foreachPartition(upload)
        if self.prune:
            self._prune_stale(factory(), keep)
        factory().sync()

    def write(self, df: DataFrame) -> DataFrame:
        # keep-set = what was uploaded (the filtered input): the KB
        # mirrors the input minus exclusions
        to_upload = self._uploadable(df)
        self._publish(to_upload, to_upload)
        return df

    def write_delta(self, new_df: DataFrame, old_df: DataFrame) -> DataFrame:
        """Incremental publish (round 5): upload only the SNAPSHOT DELTA —
        docs whose content hash changed or that are new since ``old_df``
        (operators/snapshots.snapshot_diff keyed on the url identity) —
        then prune against the FULL new snapshot's names so removed docs
        disappear and unchanged docs survive untouched. Both sides pass
        :meth:`_uploadable` first, so excluded URLs are neither uploaded
        nor kept. Uploads scale with the delta, not the corpus; upserts are
        idempotent by deterministic doc name, so re-running a
        partially-failed delta publish converges.
        """
        from wurzel_spark.operators.snapshots import snapshot_diff

        changed = (
            snapshot_diff(old_df, new_df, id_col="url", text_col="text")
            .filter(F.col("status") != "removed")
            .select("url")
        )
        keep = self._uploadable(new_df)
        delta = keep.join(changed, "url", "left_semi")
        self._publish(delta, keep)
        return delta
