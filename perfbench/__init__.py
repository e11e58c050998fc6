"""Benchmark for the loki-rs-spark scan pipeline (see run.py)."""
