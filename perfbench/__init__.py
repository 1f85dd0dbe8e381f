"""Seeded benchmark of the transcript pipeline (see run.py)."""
