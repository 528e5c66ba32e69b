"""Validation benchmark for xmlschema_spark: named workloads, end-to-end
metrics and per-layer timings. Run it with ``python3 perfbench/run.py``."""
