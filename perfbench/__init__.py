"""Benchmark of readability_py_spark; see run.py."""
