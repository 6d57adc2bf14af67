"""Benchmark of the query registry: workloads, tracing and metrics.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``.
"""
