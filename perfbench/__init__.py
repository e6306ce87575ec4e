"""Benchmark of the visits ETL and the query suite; see run.py."""
