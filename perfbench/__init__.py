"""Benchmark for dbt-meshify-spark: see README.md."""
