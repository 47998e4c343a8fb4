"""Seeded benchmark of the hogflare_spark engine; see README.md."""
