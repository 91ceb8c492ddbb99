"""The repository benchmark: seeded workloads driving the engine's public
functions, with per-layer tracing. Entry point: ``graftbench/run.py``."""
