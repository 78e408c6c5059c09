"""Seeded end-to-end benchmark of the search engine (see run.py)."""
