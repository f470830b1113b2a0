"""Workload benchmark for the crawl engine: ``python3 perfbench/run.py``.

See ``perfbench/README.md`` for the workloads, metrics and checks."""
