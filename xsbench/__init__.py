"""Benchmark for xapian_spark; entry point: xsbench/run.py."""
