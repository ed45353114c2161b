"""Benchmark for spark-extract: workloads, oracles and per-layer tracing.

Run from the root of a checkout with ``python3 perfbench/run.py --workload
<name> --seed <n> --seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
