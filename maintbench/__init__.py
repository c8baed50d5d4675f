"""Benchmark of the olake_spark table-maintenance engine (see run.py)."""
