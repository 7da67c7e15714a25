"""KG-construction benchmark: seeded inputs, timed passes, output checks
and a traced per-layer run. Entry point: ``python3 perfbench/run.py``."""
