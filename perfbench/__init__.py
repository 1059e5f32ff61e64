"""Seeded benchmark for the itdb_spark pipeline (see README.md)."""
