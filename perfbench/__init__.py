"""Benchmark of datacompy_spark; see run.py."""
