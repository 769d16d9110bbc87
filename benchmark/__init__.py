"""Benchmark of the engine's public entry points; see ``run.py``."""
