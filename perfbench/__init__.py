"""Seeded workload benchmark for har2tree_spark (see README.md)."""
