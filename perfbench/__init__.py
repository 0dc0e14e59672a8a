"""Benchmark of the incident-analysis engine; see README.md."""
