"""Benchmark of the flink_join_scaling_spark engine; entry point ``run.py``."""
