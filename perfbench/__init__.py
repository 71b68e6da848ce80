"""Benchmark harness for trafilatura_spark: workloads, checks and layer traces (see README.md)."""
