"""Geoengine benchmark package (see run.py)."""
