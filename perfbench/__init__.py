"""Benchmark of the engine's serving and LLM-data-pipeline paths (see README.md)."""
