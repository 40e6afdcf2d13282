"""Benchmark of the spark-graft engine; run ``python3 perfbench/run.py``."""
