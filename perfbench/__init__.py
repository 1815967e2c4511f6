"""Repository benchmark: seeded workloads over the public pipeline entry
points, with an untraced end-to-end run and a traced per-layer run.
See ``perfbench/run.py`` for usage."""
