"""Benchmark of the package; run it through ``perfbench/run.py``."""
