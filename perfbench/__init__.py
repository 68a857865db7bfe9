"""Benchmark for the procurement engine; see run.py."""
