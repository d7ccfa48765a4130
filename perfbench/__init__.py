"""Benchmark of the lakehouse engine; see README.md."""
