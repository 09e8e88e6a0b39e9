"""HTTP service backends for the versioned-collection and KB sink protocols.

Concrete ``requests``-based clients speaking the public REST dialects of the
services the reference integrates, behind the same backend protocols the
Spark writers already use — so ``VersionedCollectionWriter`` /
``KBUploaderSink`` run unchanged against a real service or the Local test
doubles:

  - :class:`QdrantHTTPBackend` — Qdrant REST (collections, batched point
    upserts, payload indices, atomic alias flip). Reference parity:
    wurzel/steps/qdrant/step.py:144-257 (upsert batching, payload indices
    :189-219, alias :224-236, version listing :246-257).
  - :class:`MilvusHTTPBackend` — Milvus v2 REST (explicit schema with
    auto-id pk / varchar text / float-vector / varchar url, insert, index,
    load, alias). Reference parity: wurzel/steps/milvus/step.py:66-127.
  - :class:`WonderfulKBClient` — 2-phase upload (create record → PUT
    presigned URL, or in-place /storage/upload for existing files), batch
    delete, fire-and-forget /kb/sync tolerant of gateway timeouts.
    Reference parity: wurzel/steps/wonderful/step.py:26-200.
  - :class:`ElevenLabsKBClient` — paged listing scoped to a name prefix,
    text-document create, (force-)delete. Reference parity:
    wurzel/steps/elevenlabs/step.py:31-358.
  - :class:`DecagonKBClient` — remote chunking via /article/chunks, then
    one /article/new per chunk. Reference parity:
    wurzel/steps/decagon/step.py:40-161.

All clients take a ``session_factory`` so tests inject a fake transport
(no network in CI) and Spark executors build one session per partition.
Instances hold only strings/numbers until first use → picklable for
``foreachPartition`` factories.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from logging import getLogger
from typing import Any, Callable

from wurzel_spark.http_session import LazySession
from wurzel_spark.sinks.kb import KBClient, NonRetryableError, _is_read_timeout, retry_call
from wurzel_spark.sinks.versioned import CollectionBackend

log = getLogger(__name__)

# HTTP statuses a fire-and-forget sync trigger treats as "started" —
# the gateway gave up but the server keeps indexing (wonderful/step.py:151+).
_GATEWAY_STATUSES = (502, 503, 504, 524)


class HTTPError(RuntimeError):
    def __init__(self, status: int, body: str):
        super().__init__(f"HTTP {status}: {body[:200]}")
        self.status = status
        self.body = body


def _check(resp) -> dict:
    if not (200 <= resp.status_code < 300):
        raise HTTPError(resp.status_code, getattr(resp, "text", ""))
    try:
        return resp.json()
    except (ValueError, json.JSONDecodeError):
        return {}


# ── Qdrant ────────────────────────────────────────────────────────────────


@dataclass
class QdrantHTTPBackend(LazySession, CollectionBackend):
    """Qdrant REST dialect of the 6-method collection protocol.

    Payload-index parity with qdrant/step.py:189-219: after
    ``create_collection`` the four text indices (keywords/url/text/history)
    are declared with the same tokenizer choices.
    """

    base_url: str
    api_key: str = ""
    vector_size: int = 0  # 0 → infer from first upsert batch
    distance: str = "Cosine"
    timeout: float = 30.0
    session_factory: Callable[[], Any] | None = None

    def _headers(self) -> dict[str, str]:
        return {"api-key": self.api_key} if self.api_key else {}

    def _req(self, method: str, path: str, payload: dict | None = None) -> dict:
        resp = self._session().request(
            method, f"{self.base_url}{path}", json=payload, timeout=self.timeout
        )
        return _check(resp)

    def list_collections(self) -> list[str]:
        out = self._req("GET", "/collections")
        return sorted(c["name"] for c in out.get("result", {}).get("collections", []))

    def create_collection(self, name: str, schema: dict) -> None:
        size = int(schema.get("vector_size") or self.vector_size or 0)
        body: dict[str, Any] = {}
        if size:
            body["vectors"] = {"size": size, "distance": self.distance}
        self._req("PUT", f"/collections/{name}", body)
        self._create_payload_indices(name)

    def _create_payload_indices(self, name: str) -> None:
        # qdrant/step.py:189-219 — same fields, same tokenizers
        for field_name, params in (
            ("keywords", {"type": "text", "tokenizer": "whitespace"}),
            ("url", {"type": "text", "tokenizer": "prefix", "min_token_len": 3}),
            ("text", {"type": "text", "tokenizer": "multilingual"}),
            ("history", {"type": "text", "tokenizer": "word"}),
        ):
            self._req(
                "PUT",
                f"/collections/{name}/index",
                {"field_name": field_name, "field_schema": params},
            )

    def upsert_batch(self, name: str, points: list[dict]) -> None:
        if not points:
            return
        body = {
            "points": [
                {
                    "id": p["id"],
                    "vector": p.get("vector") or p.get("vectors") or [],
                    "payload": {
                        k: v for k, v in p.items() if k not in ("id", "vector", "vectors")
                    },
                }
                for p in points
            ]
        }
        retry_call(lambda: self._req("PUT", f"/collections/{name}/points?wait=true", body))

    def set_alias(self, alias: str, name: str) -> None:
        # Atomic delete+create in ONE aliases call (qdrant/step.py:224-236
        # uses update_collection_aliases; a lone create on an existing alias
        # is rejected by some server versions).
        actions: list[dict] = []
        if self.get_alias(alias):
            actions.append({"delete_alias": {"alias_name": alias}})
        actions.append(
            {"create_alias": {"collection_name": name, "alias_name": alias}}
        )
        self._req("POST", "/collections/aliases", {"actions": actions})

    def get_alias(self, alias: str) -> str | None:
        return self.list_aliases().get(alias)

    def list_aliases(self) -> dict[str, str]:
        out = self._req("GET", "/aliases")
        return {
            a["alias_name"]: a["collection_name"]
            for a in out.get("result", {}).get("aliases", [])
        }

    def drop_collection(self, name: str) -> None:
        self._req("DELETE", f"/collections/{name}")

    def usage_timestamps(self, details_level: int = 6) -> dict[str, "Any"]:
        """collection -> most recent responded-at timestamp across shards,
        from ``GET /telemetry`` (qdrant retirement telemetry,
        retirement.py:58-117). Fits ``CollectionRetirer.usage_fetcher``."""
        from datetime import datetime

        out = self._req("GET", f"/telemetry?details_level={details_level}")
        cols = out.get("result", {}).get("collections", {}).get("collections") or []
        usage: dict[str, Any] = {}
        for col in cols:
            stamps = []
            for shard in col.get("shards") or []:
                opt = (
                    (shard.get("local") or {}).get("optimizations", {}).get("optimizations")
                    or {}
                )
                if opt.get("last_responded"):
                    stamps.append(opt["last_responded"])
                for remote in shard.get("remote") or []:
                    searches = remote.get("searches") or {}
                    if searches.get("last_responded"):
                        stamps.append(searches["last_responded"])
            if stamps:
                usage[col["id"]] = max(
                    datetime.fromisoformat(s.replace("Z", "+00:00")) for s in stamps
                )
        return usage


# ── Milvus ────────────────────────────────────────────────────────────────


@dataclass
class MilvusHTTPBackend(LazySession, CollectionBackend):
    """Milvus v2 REST dialect.

    Collection layout mirrors milvus/step.py:66-93: auto-id INT64 pk,
    VARCHAR(3000) text, FLOAT_VECTOR vector, VARCHAR(300) url; after the
    bulk insert the caller's finalize triggers index build + load via
    ``set_alias`` (milvus/step.py:90-98 creates the index and loads the
    collection right after insert — we do it lazily on first alias flip so
    the distributed insert path stays metadata-free).
    """

    base_url: str
    token: str = ""
    vector_dim: int = 0
    index_params: dict = field(
        default_factory=lambda: {
            "metricType": "COSINE",
            "indexType": "AUTOINDEX",
        }
    )
    timeout: float = 30.0
    session_factory: Callable[[], Any] | None = None

    def _headers(self) -> dict[str, str]:
        headers = {"Content-Type": "application/json"}
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        return headers

    def _post(self, path: str, payload: dict) -> dict:
        resp = self._session().post(
            f"{self.base_url}/v2/vectordb{path}", json=payload, timeout=self.timeout
        )
        out = _check(resp)
        code = out.get("code", 0)
        if code not in (0, 200):
            raise HTTPError(code, out.get("message", ""))
        return out

    def list_collections(self) -> list[str]:
        out = self._post("/collections/list", {})
        return sorted(out.get("data", []))

    def create_collection(self, name: str, schema: dict) -> None:
        dim = int(schema.get("vector_size") or self.vector_dim or 0)
        self._post(
            "/collections/create",
            {
                "collectionName": name,
                "schema": {
                    "autoId": True,
                    "fields": [
                        {
                            "fieldName": "pk",
                            "dataType": "Int64",
                            "isPrimary": True,
                        },
                        {
                            "fieldName": "text",
                            "dataType": "VarChar",
                            "elementTypeParams": {"max_length": 3000},
                        },
                        {
                            "fieldName": "vector",
                            "dataType": "FloatVector",
                            "elementTypeParams": {"dim": dim or 1},
                        },
                        {
                            "fieldName": "url",
                            "dataType": "VarChar",
                            "elementTypeParams": {"max_length": 300},
                        },
                    ],
                },
            },
        )

    def upsert_batch(self, name: str, points: list[dict]) -> None:
        if not points:
            return
        data = [
            {
                "text": p.get("text", ""),
                "vector": p.get("vector") or p.get("vectors") or [],
                "url": p.get("url", ""),
            }
            for p in points
        ]
        out = retry_call(
            lambda: self._post("/entities/insert", {"collectionName": name, "data": data})
        )
        n = out.get("data", {}).get("insertCount", len(data))
        if n != len(data):
            # milvus/step.py:85-88 fails the step on partial insert
            raise HTTPError(500, f"partial insert {n}/{len(data)} into {name}")

    def _index_and_load(self, name: str) -> None:
        self._post(
            "/indexes/create",
            {
                "collectionName": name,
                "indexParams": [{"fieldName": "vector", **self.index_params}],
            },
        )
        self._post("/collections/load", {"collectionName": name})

    def set_alias(self, alias: str, name: str) -> None:
        self._index_and_load(name)  # milvus/step.py:90-98
        try:
            self._post("/aliases/alter", {"aliasName": alias, "collectionName": name})
        except HTTPError:
            self._post("/aliases/create", {"aliasName": alias, "collectionName": name})

    def get_alias(self, alias: str) -> str | None:
        try:
            out = self._post("/aliases/describe", {"aliasName": alias})
        except HTTPError:
            return None
        return out.get("data", {}).get("collectionName")

    def drop_collection(self, name: str) -> None:
        self._post("/collections/release", {"collectionName": name})
        self._post("/collections/drop", {"collectionName": name})


# ── Wonderful ─────────────────────────────────────────────────────────────


@dataclass
class WonderfulKBClient(LazySession, KBClient):
    """Wonderful RAG dialect of the KB protocol (wonderful/step.py:26-200).

    upsert: existing file → in-place POST /storage/upload; new file →
    POST /knowledgebases/{kb}/files then PUT the returned presigned URL
    (the PUT goes through a bare session — the presigned URL must not carry
    the x-api-key header, step.py:127-136). A created-but-unuploaded record
    is rolled back. sync: one whole-KB fire-and-forget trigger.
    """

    base_url: str
    api_key: str
    kb_id: str
    timeout: float = 120.0
    sync_timeout: float = 30.0
    session_factory: Callable[[], Any] | None = None
    bare_session_factory: Callable[[], Any] | None = None

    def _headers(self) -> dict[str, str]:
        return {"x-api-key": self.api_key}

    def _api(self, method: str, endpoint: str, payload: dict | None = None) -> dict:
        resp = self._session().request(
            method,
            f"{self.base_url}/api/v1{endpoint}",
            json=payload,
            timeout=self.timeout,
        )
        return _check(resp)

    def _files(self) -> dict[str, str]:
        """{filename: file_id}; fetched once per client and kept current by
        creates/deletes — the reference lists once per run for the same
        reason (step.py:337)."""
        if getattr(self, "_files_cache", None) is None:
            result = self._api("GET", f"/knowledgebases/{self.kb_id}/files")
            files = result.get("data", result)
            self._files_cache: dict[str, str] = (
                {f["name"]: f["id"] for f in files} if isinstance(files, list) else {}
            )
        return self._files_cache

    def list_docs(self, tag: str) -> list[str]:
        return sorted(self._files())

    def upsert_doc(self, name: str, payload: dict) -> None:
        content = (payload.get("md") or payload.get("text") or "").encode()
        existing = self._files()
        if name in existing:
            # in-place overwrite keeps the file id stable (step.py:139-150)
            resp = self._session().request(
                "POST",
                f"{self.base_url}/api/v1/storage/upload",
                files={"file": (name, content, "text/markdown")},
                data={"file_id": existing[name]},
                timeout=self.timeout,
            )
            _check(resp)
            return
        try:
            created = self._api(
                "POST",
                f"/knowledgebases/{self.kb_id}/files",
                {"filename": name, "contentType": "text/markdown"},
            )
        except Exception as e:
            if _is_read_timeout(e):
                # the record may already exist server-side; re-sending would
                # duplicate it (step.py:248-259)
                raise NonRetryableError(str(e)) from e
            raise
        rec = created.get("data", created)
        try:
            put = self._session(bare=True).put(
                rec["url"],
                data=content,
                headers={"Content-Type": "text/markdown"},
                timeout=self.timeout,
            )
            _check(put)
        except Exception:
            # roll back the orphaned record, best-effort (step.py:181-188)
            try:
                self._api(
                    "DELETE",
                    f"/knowledgebases/{self.kb_id}/files",
                    {"file_ids": [rec.get("id")]},
                )
            except Exception:  # noqa: BLE001 — rollback must never mask the cause
                log.warning("could not roll back orphaned record %s", rec.get("id"))
            raise
        existing[name] = rec.get("id")

    def delete_doc(self, name: str) -> None:
        existing = self._files()
        if name not in existing:
            return
        try:
            self._api(
                "DELETE",
                f"/knowledgebases/{self.kb_id}/files",
                {"file_ids": [existing[name]]},
            )
        except Exception as e:
            if not _is_read_timeout(e):
                raise
            # the DELETE is slow server-side; a read timeout almost always
            # means the server is still completing it — treat as deleted,
            # retrying only piles load on the endpoint (step.py:189-206)
            log.info("delete of %s timed out (read); assuming the server completes it", name)
        finally:
            existing.pop(name, None)

    def sync(self) -> None:
        url = f"{self.base_url}/api/v1/knowledgebases/{self.kb_id}/sync"
        try:
            resp = self._session().post(url, timeout=self.sync_timeout)
            if resp.status_code in _GATEWAY_STATUSES or 200 <= resp.status_code < 300:
                log.info("KB sync triggered (%s)", resp.status_code)
            else:
                log.warning("KB sync trigger returned %s", resp.status_code)
        except Exception as e:  # noqa: BLE001 — fire-and-forget by contract
            log.info("KB sync trigger: %s (indexing continues server-side)", e)


# ── ElevenLabs ────────────────────────────────────────────────────────────


@dataclass
class ElevenLabsKBClient(LazySession, KBClient):
    """ElevenLabs convai knowledge-base dialect (elevenlabs/step.py:31-358).

    Listing pages through ``GET /v1/convai/knowledge-base`` filtering to
    ``type == "text"`` docs whose name starts with the prefix+tag scope;
    duplicate names keep the first id seen and delete the rest
    (step.py:189-233). The prefix filter is applied CLIENT-side, never via
    the API's ``search`` param (step.py:172-177: search is not guaranteed
    to return every match, which created duplicates in practice). When
    ``parent_folder_id`` is set it scopes BOTH creates and the listing —
    step.py:184-187: creates file under the folder, so an unscoped listing
    would miss them next run and duplicate every document.

    Updates PATCH ``{"content": ...}`` in place (step.py:262-264) so the
    document id — and any agent attachment to it — stays stable; deletes
    always carry an explicit ``force`` flag (step.py:266-272). A create is
    never retried after a read timeout (step.py:104-116): the server may
    already have processed it, and re-sending would duplicate the document.
    """

    base_url: str
    api_key: str
    name_prefix: str = ""
    parent_folder_id: str = ""
    force_delete: bool = False
    page_size: int = 100
    timeout: float = 30.0
    session_factory: Callable[[], Any] | None = None

    def _headers(self) -> dict[str, str]:
        return {"xi-api-key": self.api_key}

    def _scope(self, tag: str) -> str:
        return f"{self.name_prefix}{tag}" if tag else self.name_prefix

    def scoped_name(self, name: str, tag: str) -> str:
        scope = self._scope(tag)
        return name if name.startswith(scope) else f"{scope}{name}"

    def _cache(self) -> dict[str, dict[str, str]]:
        if getattr(self, "_listing_cache", None) is None:
            self._listing_cache: dict[str, dict[str, str]] = {}
        return self._listing_cache

    def _list_existing(self, tag: str) -> dict[str, str]:
        """One paged listing per (client, tag); creates/deletes keep the
        cache current so an n-doc run issues one listing, not n
        (step.py:317 lists once per run for the same reason)."""
        cache = self._cache()
        if tag in cache:
            return cache[tag]
        existing: dict[str, str] = {}
        cursor = None
        scope = self._scope(tag)
        while True:
            params: dict[str, Any] = {"page_size": self.page_size, "types": "text"}
            if self.parent_folder_id:
                params["parent_folder_id"] = self.parent_folder_id
            if cursor:
                params["cursor"] = cursor
            resp = self._session().get(
                f"{self.base_url}/v1/convai/knowledge-base",
                params=params,
                timeout=self.timeout,
            )
            out = _check(resp)
            for doc in out.get("documents", []):
                if doc.get("type") != "text":
                    # don't trust the server-side types filter alone
                    # (step.py:213-218) — a leaked folder/url doc must never
                    # be PATCHed or pruned
                    continue
                name = doc["name"]
                if scope and not name.startswith(scope):
                    continue
                if name in existing:
                    log.warning("duplicate document name %r — deleting %s", name, doc["id"])
                    self._delete_id(doc["id"])
                    continue
                existing[name] = doc["id"]
            cursor = out.get("next_cursor")
            if not out.get("has_more") or not cursor:
                cache[tag] = existing
                return existing

    def list_docs(self, tag: str) -> list[str]:
        return sorted(self._list_existing(tag))

    def upsert_doc(self, name: str, payload: dict) -> None:
        tag = payload.get("history", "")
        full_name = name if name.startswith(self._scope(tag)) else f"{self._scope(tag)}{name}"
        existing = self._list_existing(tag)
        content = payload.get("md") or payload.get("text", "")
        if full_name in existing:
            # update-in-place keeps the document id (and any agent
            # attachment) stable — step.py:262-264
            resp = self._session().request(
                "PATCH",
                f"{self.base_url}/v1/convai/knowledge-base/{existing[full_name]}",
                json={"content": content},
                timeout=self.timeout,
            )
            _check(resp)
            return
        body: dict[str, Any] = {"name": full_name, "text": content}
        if self.parent_folder_id:
            body["parent_folder_id"] = self.parent_folder_id
        try:
            resp = self._session().post(
                f"{self.base_url}/v1/convai/knowledge-base/text",
                json=body,
                timeout=self.timeout,
            )
        except Exception as e:
            if _is_read_timeout(e):
                # the server may already have created the document;
                # re-sending would duplicate it (step.py:104-116,257-259)
                raise NonRetryableError(str(e)) from e
            raise
        out = _check(resp)
        if out.get("id"):
            existing[full_name] = out["id"]

    def _delete_id(self, doc_id: str) -> None:
        resp = self._session().delete(
            f"{self.base_url}/v1/convai/knowledge-base/{doc_id}",
            params={"force": "true" if self.force_delete else "false"},
            timeout=self.timeout,
        )
        _check(resp)

    def delete_doc(self, name: str) -> None:
        for tag in list(self._cache()) or ("",):
            existing = self._list_existing(tag)
            if name in existing:
                self._delete_id(existing[name])
                del existing[name]
                return


# ── Decagon ───────────────────────────────────────────────────────────────


@dataclass
class DecagonKBClient(LazySession, KBClient):
    """Decagon article dialect (decagon/step.py:40-161): server-side
    chunking via /article/chunks, then one /article/new per chunk with
    chunk_index/total_chunks metadata."""

    api_url: str
    api_key: str
    source: str = "wurzel"
    timeout: float = 30.0
    session_factory: Callable[[], Any] | None = None

    def _headers(self) -> dict[str, str]:
        return {"Content-Type": "application/json", "Authorization": f"Bearer {self.api_key}"}

    def _post(self, endpoint: str, payload: dict) -> dict:
        resp = self._session().post(
            f"{self.api_url}{endpoint}", json=payload, timeout=self.timeout
        )
        return _check(resp)

    def chunk_content(self, content: str, title: str) -> list[str]:
        result = self._post(
            "/article/chunks", {"title": title, "content": content, "is_html": False}
        )
        return result.get("chunks") or [content]

    def list_docs(self, tag: str) -> list[str]:
        return []  # decagon has no listing endpoint in the reference (push-only)

    def upsert_doc(self, name: str, payload: dict) -> None:
        content = payload.get("md") or payload.get("text", "")
        title = payload.get("title") or name
        chunks = self.chunk_content(content, title)
        tags = [t.strip() for t in (payload.get("keywords") or "").split(",") if t.strip()]
        for i, chunk in enumerate(chunks):
            self._post(
                "/article/new",
                {
                    "content": chunk,
                    "source": self.source,
                    "tags": tags,
                    "source_url": payload.get("url", ""),
                    "article_metadata": {
                        "chunk_index": i,
                        "total_chunks": len(chunks),
                        "original_url": payload.get("url", ""),
                    },
                },
            )

    def delete_doc(self, name: str) -> None:
        pass  # push-only in the reference
