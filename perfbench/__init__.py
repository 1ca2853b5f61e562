"""Benchmark of the service-alerts engine; see README.md."""
