"""Benchmark of the wavelet engine; entry point ``perfbench/run.py``."""
