"""Benchmark for the KG pipeline: seeded workloads, end-to-end metrics, and
a traced run that attributes time to layers. Entry point: ``run.py``."""
