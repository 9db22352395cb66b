"""Benchmark for scalable_etl_spark: three seeded closed-loop workloads
(see README.md). Entry point: ``python3 perfbench/run.py``."""
