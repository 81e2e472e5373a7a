"""Benchmark of the incremental lakehouse engine; see README.md."""
