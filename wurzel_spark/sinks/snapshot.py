"""Timestamped JSON snapshot sink (S3MarkdownStep parity,
wurzel/steps/s3/step.py:23-104).

Protocol: write the full document set as JSON to ``<root>/<ts>.json`` plus
a ``latest.json`` copy; stamp provenance metadata; NEVER clobber ``latest``
on empty input (s3/step.py:71-77). Timestamp format %Y-%m-%dT%H%M%SZ
(s3/step.py:80) — injected by the caller for testability.

At scale the single-object write becomes partitioned JSON under
``<root>/<ts>/`` with a tiny ``latest.json`` manifest — both modes here.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

from wurzel_spark.manifest import save_sorted


def write_snapshot(
    df: DataFrame,
    root: str,
    timestamp: str,
    history: str = "",
    partitioned: bool | None = None,
) -> dict:
    """Returns the snapshot manifest. ``partitioned=None`` auto-selects:
    single JSON array for small outputs (reference behavior), partitioned
    JSONL dir beyond ~100k rows.
    """
    os.makedirs(root, exist_ok=True)
    n = df.count()
    if n == 0:
        # never clobber latest on empty input (s3/step.py:71-77)
        return {"rows": 0, "skipped": True}

    if partitioned is None:
        partitioned = n > 100_000

    manifest = {
        "rows": n,
        "timestamp": timestamp,
        "history": history,
        "skipped": False,
    }
    if partitioned:
        # scale mode: distributed partitioned JSONL under <root>/<ts>/ —
        # a globally range-sorted write (orderBy feeds a range exchange;
        # each task writes its own part file, nothing funnels through
        # the driver), then the pointer flip below publishes it
        path = os.path.join(root, timestamp)
        save_sorted(df, path, "json")
        manifest["path"] = path
        manifest["partitioned"] = True
    else:
        path = os.path.join(root, f"{timestamp}.json")
        rows = [r.asDict(recursive=True) for r in df.orderBy(df.columns[0]).collect()]
        with open(path, "w") as f:
            json.dump(rows, f, sort_keys=True)
        manifest["path"] = path
        manifest["partitioned"] = False
        tmp_latest = os.path.join(root, ".latest.json.tmp")
        shutil.copyfile(path, tmp_latest)
        os.replace(tmp_latest, os.path.join(root, "latest.json"))

    # the publish step is an ATOMIC pointer flip (the versioned-collection
    # alias-flip convention, sinks/versioned.py): readers of
    # latest.manifest.json see either the previous complete snapshot or
    # the new complete one, never a half-written state — and the flip
    # happens only after the data write above fully succeeded
    tmp = os.path.join(root, ".latest.manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(root, "latest.manifest.json"))
    return manifest
