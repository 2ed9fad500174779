"""Layered pipeline benchmark (see run.py)."""
