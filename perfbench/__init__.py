"""Seeded benchmark of the tile and text-dedup paths (see run.py)."""
