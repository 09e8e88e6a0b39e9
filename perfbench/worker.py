"""One benchmark run in a fresh process: set up Spark, warm up, run timed
passes of one workload, check every output and write the result as JSON.

Started by ``perfbench/run.py``, which owns the process tree; run directly
only for debugging:
``python3 -m perfbench.worker --workload queries --seed 1 --seconds 10
--trace 0 --work <dir> --data <dir> --result <file>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import fields

from perfbench import procstat
from perfbench.sparkstat import Counters, counters
from perfbench.trace import Tracer, check_links
from perfbench.workloads import CURATION, QUERY_MODULES, WORKLOADS, Op, median

#: the per-layer metrics every traced run prints, with their units; a layer
#: that a workload does not call reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "warmup.pass_s": "s",
    "manifest.compose_s": "s",
    "sources.markdown.self_s": "s",
    "sources.markdown.tasks": "count",
    "sources.markdown.input_read_ratio": "ratio",
    "operators.dedup.exact_self_s": "s",
    "operators.dedup.near_self_s": "s",
    "operators.dedup.lsh_precision": "ratio",
    "operators.splitter.self_s": "s",
    "operators.splitter.tasks": "count",
    "operators.splitter.chunks_out": "count",
    "operators.embedding.self_s": "s",
    "operators.embedding.tasks": "count",
    "operators.embedding.vectors_out": "count",
    "sinks.versioned.self_s": "s",
    "sinks.versioned.jobs": "count",
    "sinks.versioned.points_written": "count",
    "sinks.versioned.bytes_per_point": "B",
    "sinks.versioned.versions_retained": "count",
}
for _prefix in QUERY_MODULES + [f"q.{q}" for q in CURATION]:
    LAYER_UNITS |= {f"{_prefix}.build_s": "s", f"{_prefix}.exec_s": "s", f"{_prefix}.jobs": "count"}
for _f in fields(Counters):
    _unit = "s" if _f.name.endswith("_s") else "B" if _f.name.endswith("_bytes") else "count"
    LAYER_UNITS[f"spark.{_f.name}"] = _unit
LAYER_UNITS |= {
    "spark.jvm_cpu_s": "s",
    "spark.python_cpu_s": "s",
    "spark.core_busy_ratio": "ratio",
    "trace.overhead_s": "s",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
}


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work: str):
    from wurzel_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when the
    launcher's stdin closes)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches


def run(args, after_op=None) -> dict:
    """The whole run; returns the result object. ``after_op(workload, ops)``
    runs after each timed pass, before its outputs are checked (the tests
    corrupt outputs there)."""
    t_proc = process_start()
    pid = os.getpid()
    wl = WORKLOADS[args.workload](args.work, args.data, args.seed)
    t0 = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t0  # benchmark-only, not set-up

    t0 = time.perf_counter()
    spark = start_spark(args.work)
    session_s = time.perf_counter() - t0
    try:
        wl.bind(spark)
        # set-up: process start until the workload is ready to run, less the
        # input generation; the warm pass that follows is not part of it
        setup_s = time.time() - t_proc - gen_s
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        print(
            f"perfbench: setup {setup_s:.3f} s (session {session_s:.3f} s),"
            f" warm pass {warm_s:.3f} s",
            file=sys.stderr,
        )
        return measure(args, wl, pid, setup_s, session_s, warm_s, after_op)
    finally:
        stop_spark(spark)


def measure(args, wl, pid, setup_s, session_s, warm_s, after_op) -> dict:
    sc = wl.spark.sparkContext
    tracer = Tracer() if args.trace else None
    plain: list[tuple[float, procstat.CpuSample, list[Op]]] = []
    traced_walls: list[float] = []
    traced: dict[str, dict] = {}
    attempted = failed = 0
    with procstat.RssPeak(pid) as rss:
        t_start = time.perf_counter()
        k = 0
        while (
            k == 0
            or time.perf_counter() - t_start < args.seconds
            or (args.trace and (not plain or not traced))
        ):
            tag = f"{wl.name}-{k}"
            is_traced = args.trace and k % 2 == 1
            cpu0 = procstat.cpu(pid)
            t0 = time.perf_counter()
            if is_traced:
                tracer.trace_id = tag
                with tracer.span("pass"):
                    ops = wl.run_pass(tag, tracer)
            else:
                ops = wl.run_pass(tag)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu(pid) - cpu0
            print(f"perfbench: {tag} wall {wall:.3f} s cpu {cpu.total_s:.2f} s", file=sys.stderr)
            if after_op is not None:
                after_op(wl, ops)
            for op in ops:
                op.counters = counters(sc, op.group)
                if not op.problems:
                    try:
                        op.problems = wl.check(op)
                    except Exception as e:  # output the check cannot even read
                        op.problems = [f"check raised {type(e).__name__}: {e}"]
                op.result = None
                attempted += 1
                if op.problems:
                    failed += 1
                    for p in op.problems:
                        print(f"perfbench: {tag}: {p}", file=sys.stderr)
            if is_traced:
                traced_walls.append(wall)
                traced[tag] = wl.traced_extras(tag)
            else:
                plain.append((wall, cpu, ops))
            k += 1

    walls = [w for w, _, _ in plain]
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "items_per_s": wl.items_per_pass / median(walls),
            "op_p50_s": median(op.latency_s for _, _, ops in plain for op in ops),
            "cpu_s": median(c.total_s for _, c, _ in plain),
            "peak_rss_mb": rss.peak / 2**20,
            "ok_ops_ratio": 1.0 - failed / attempted,
        }
        units = END_TO_END_UNITS
    else:
        check_links(tracer.spans)
        metrics = dict.fromkeys(LAYER_UNITS, 0.0)
        metrics["session.start_s"] = session_s
        metrics["warmup.pass_s"] = warm_s
        metrics.update(wl.layer_metrics(tracer, traced))
        per_pass = []
        for wall, cpu, ops in plain:
            total = sum((op.counters for op in ops), Counters())
            m = {f"spark.{f.name}": getattr(total, f.name) for f in fields(Counters)}
            m["spark.jvm_cpu_s"] = cpu.jvm_s
            m["spark.python_cpu_s"] = cpu.python_s
            m["spark.core_busy_ratio"] = total.executor_run_s / (wall * sc.defaultParallelism)
            m.update(wl.pass_metrics(ops))
            per_pass.append(m)
        metrics.update({k: median(p[k] for p in per_pass) for k in per_pass[0]})
        metrics["trace.overhead_s"] = median(traced_walls) - median(walls)
        if args.trace_out:
            tracer.write(args.trace_out)
        units = LAYER_UNITS
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics without a declared unit: {sorted(unknown)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()
    result = run(args)
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
