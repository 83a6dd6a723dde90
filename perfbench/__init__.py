"""Benchmark for westtopologies_spark; entry point: ``python3 perfbench/run.py``."""
