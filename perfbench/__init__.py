"""Benchmark of the engine: live ingest and dashboard serving.
Entry point: ``python3 perfbench/run.py --workload <name>``."""
