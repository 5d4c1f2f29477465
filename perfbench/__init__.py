"""Benchmark of the parquet2_spark engine: see README.md and run.py."""
