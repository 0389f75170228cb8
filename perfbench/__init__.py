"""Benchmark for the emr_flink_example_spark engine (see README.md)."""
