"""Structured Streaming surface: event-time windowed tile stats and a
stateful sessionizer."""
