"""Benchmark of the adopt_spark link-graph engine; see run.py."""
