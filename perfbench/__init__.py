"""Benchmark of record for the engine; see README.md."""
