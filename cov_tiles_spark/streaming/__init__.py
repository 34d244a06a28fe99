"""Structured Streaming surface: event-time windowed tile stats."""
