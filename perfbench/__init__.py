"""Dump -> load round-trip benchmark (see run.py)."""
