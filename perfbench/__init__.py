"""Benchmark of the produce pipe and the analytics engine; see README.md."""
