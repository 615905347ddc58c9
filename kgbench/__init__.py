"""Benchmark for the relex_spark engine: seeded inputs, four workloads, a
timed closed loop and a separate traced run. Entry point: ``kgbench/run.py``.
"""
