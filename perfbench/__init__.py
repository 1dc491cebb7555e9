"""Seeded benchmark of the extractor engine (run.py is the entry point)."""
