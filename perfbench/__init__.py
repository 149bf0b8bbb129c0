"""Benchmark of connected_data_lake_spark; run perfbench/run.py."""
