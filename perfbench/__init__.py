"""Seeded benchmark of the cbor_ld_spark KG engine; see run.py."""
