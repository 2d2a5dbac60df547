"""Structured Streaming variant of the extraction pass."""
