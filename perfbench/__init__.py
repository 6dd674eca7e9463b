"""Benchmark of the search_spark BM25 engine: see perfbench/README.md."""
