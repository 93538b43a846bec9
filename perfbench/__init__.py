"""Benchmark of lucene_spark; see README.md."""
