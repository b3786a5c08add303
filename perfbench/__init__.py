"""Benchmark of the feature engine: see README.md in this directory."""
