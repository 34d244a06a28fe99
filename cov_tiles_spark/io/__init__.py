"""Deterministic synthetic corpora (images+captions, audio, video)."""
