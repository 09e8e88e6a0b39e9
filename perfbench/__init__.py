"""Benchmark for wurzel_spark: RAG ingest pipeline and query workloads.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root (see ``perfbench/run.py``); the
workloads and metrics are declared in ``BENCHMARK.json``.
"""
