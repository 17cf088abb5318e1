"""Benchmark of the dedup engine; see run.py."""
