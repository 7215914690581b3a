"""Benchmark of yark_spark: see run.py for the command line."""
