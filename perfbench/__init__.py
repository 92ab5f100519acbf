"""Benchmark of the rdf2hk_spark engine; see README.md."""
