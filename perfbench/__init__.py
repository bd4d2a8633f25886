"""The repository's benchmark: seeded job-pipeline and query workloads,
output checks and per-layer tracing.  Entry point: `perfbench/run.py`."""
