"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The two workload runs start Spark (about a minute each); run them alone,
never beside another Spark job.
"""

from __future__ import annotations

import argparse
import functools
import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, workloads, worker
from perfbench.run import ROOT
from perfbench.trace import Span, Tracer, check_links, self_times


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_match_the_runner():
    b = _benchmark()
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == worker.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == worker.LAYER_UNITS
    assert b["paths"] == ["perfbench"]


def test_self_time_subtracts_children_and_links_hold():
    tr = Tracer()
    tr.trace_id = "t"
    with tr.span("pass"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    check_links(tr.spans)
    st = self_times(tr.spans)
    root = next(s for s in tr.spans if s.name == "pass")
    kids = sum(s.duration for s in tr.spans if s.parent == root.span_id)
    assert st[root.span_id] == pytest.approx(root.duration - kids)
    with pytest.raises(ValueError):
        check_links([Span("p", "t", 1, None, 0.0, 1.0), Span("c", "u", 2, 1, 0.2, 0.4)])


def test_digest_is_order_insensitive_and_sees_a_changed_row():
    df = pd.DataFrame({"b": [2.5, 1.5], "a": [1, 2]})
    d = checks.result_digest(df)
    assert checks.result_digest(df.iloc[::-1][["a", "b"]]) == d
    assert checks.result_digest(df.assign(b=[2.5, 1.25])) != d


def test_check_rag_flags_a_corrupted_sink_file(tmp_path):
    from wurzel_spark.operators.embedding import hash_embedding
    from wurzel_spark.sinks.versioned import LocalCollectionBackend

    texts = ["a b c d e", "a b c d e f", "x y z w"]
    be = LocalCollectionBackend(str(tmp_path))
    be.create_collection("kb_v1", {})
    be.upsert_batch("kb_v1", [
        {"id": i + 1, "text": t, "embedding_input_text": t, "chunk_id": i,
         "vector": [float(v) for v in np.float32(hash_embedding(t, 8))]}
        for i, t in enumerate(texts[:1] + texts[2:])
    ])
    be.set_alias("kb", "kb_v1")
    expected = checks.Counter(texts)  # "a b c d e f" was dropped as a near dup
    assert checks.next_version(str(tmp_path), "kb") == "kb_v2"
    assert checks.check_rag(str(tmp_path), "kb", "kb_v1", expected, 8, 10, 0.5) == []
    # a pass that wrote nothing leaves the previous version aliased
    assert checks.check_rag(str(tmp_path), "kb", "kb_v2", expected, 8, 10, 0.5)
    part = tmp_path / "kb_v1" / "part-000000000001.jsonl"
    good = part.read_text()
    rows = [json.loads(line) for line in good.splitlines()]
    rows[0]["vector"][0] += 0.5
    part.write_text("".join(json.dumps(r) + "\n" for r in rows))
    assert checks.check_rag(str(tmp_path), "kb", "kb_v1", expected, 8, 10, 0.5)
    part.write_text(good + json.dumps({"id": 3}) + "\n")  # a malformed point
    assert checks.check_rag(str(tmp_path), "kb", "kb_v1", expected, 8, 10, 0.5)


# ------------------------------------------------------ workload runs (Spark)

@pytest.fixture
def spark_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    monkeypatch.setenv("PYTHONPATH", ROOT)
    monkeypatch.delenv("MIDDLEWARES", raising=False)
    return tmp_path


def _args(tmp, workload, trace):
    (tmp / "work").mkdir()
    return argparse.Namespace(
        workload=workload, seed=7, seconds=0, trace=trace, work=str(tmp / "work"),
        data=os.path.join(ROOT, ".perfbench", "data"), trace_out=str(tmp / "trace.jsonl"),
    )


def test_rag_ingest_tiny_run_passes_its_checks_and_a_corrupt_sink_fails(spark_env, monkeypatch):
    monkeypatch.setitem(
        workloads.WORKLOADS, "rag_ingest", functools.partial(workloads.RagIngest, n_docs=30)
    )

    def corrupt(wl, ops):
        assert wl.check(ops[0]) == []  # the real output is correct
        alias, _, _, _ = checks.read_collection(wl.root, workloads.COLLECTION)
        d = os.path.join(wl.root, alias)
        part = os.path.join(d, sorted(f for f in os.listdir(d) if f.endswith(".jsonl"))[0])
        with open(part) as f:
            rows = [json.loads(line) for line in f]
        rows[0]["vector"][0] = -rows[0]["vector"][0] + 0.25
        with open(part, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)

    out = worker.run(_args(spark_env, "rag_ingest", 0), after_op=corrupt)
    b = _benchmark()
    assert set(out["metrics"]) == {m["name"] for m in b["end_to_end"]}
    assert (out["attempted"], out["failed"], out["correct"]) == (1, 1, False)
    assert out["metrics"]["ok_ops_ratio"]["value"] == 0.0


def test_queries_tiny_traced_run_reports_every_layer_and_a_corrupt_result_fails(
    spark_env, monkeypatch
):
    monkeypatch.setattr(workloads, "CURATION", ["supplier_pagerank"])
    monkeypatch.setattr(workloads, "CONTROL", ["q1_pricing_summary"])

    def corrupt(wl, ops):
        if ops[0].group.startswith("queries-0/"):  # the untraced pass
            op = next(o for o in ops if o.name == "q1_pricing_summary")
            assert wl.check(op) == []
            op.result = op.result.iloc[1:]

    out = worker.run(_args(spark_env, "queries", 1), after_op=corrupt)
    b = _benchmark()
    assert set(out["metrics"]) == {m["name"] for m in b["per_layer"]}
    assert (out["attempted"], out["failed"]) == (4, 1)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["q.supplier_pagerank.jobs"] >= 1 and m["queries.relational.jobs"] >= 1
    assert m["spark.jobs"] >= 2
    spans = [json.loads(line) for line in (spark_env / "trace.jsonl").read_text().splitlines()]
    assert {s["name"] for s in spans} >= {"pass", "build", "drain", "q.supplier_pagerank"}
