"""Benchmark of the Substrate ETL engine; see README.md."""
