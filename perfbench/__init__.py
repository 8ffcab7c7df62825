"""Seeded, oracle-checked benchmark of the search engine (see README.md)."""
