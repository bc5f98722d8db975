"""Benchmark of the rsgislib_spark engine; run it with ``python3 perfbench/run.py``."""
