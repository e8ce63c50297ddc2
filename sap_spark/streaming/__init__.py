"""Structured Streaming CDC pipeline."""
