"""Seeded benchmark for polars_quant_spark; see README.md."""
