"""Benchmark of the feature-generation engine; see README.md."""
