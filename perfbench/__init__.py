"""linkgraph benchmark harness: seeded workloads, output checks and an
event-log layer trace. Entry point: ``python3 perfbench/run.py``."""
