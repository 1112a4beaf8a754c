"""The repository benchmark: seeded workloads over the engine's public
entry points, end-to-end metrics, and a traced run for per-layer
metrics.  Entry point: ``python3 perfbench/run.py`` (see its docstring)."""
