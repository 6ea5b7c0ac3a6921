"""Benchmark of the DiskANN vector-search core: see ``annbench/run.py``."""
