"""Benchmark for the engine: see README.md."""
