"""Benchmark of kgforge: see README.md."""
