"""Benchmark of the record-linkage engine; run perfbench/run.py."""
