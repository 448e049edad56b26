"""Benchmark of the analytics engine: see README.md in this directory."""
