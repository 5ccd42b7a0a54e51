"""Offline benchmark for t2p-spark: extraction and the query suite.

Run it from the repository root::

    python3 perfbench/run.py --workload extract_skew --seed 1 --seconds 10 --trace 0

See ``perfbench/README.md`` for the workloads, the metrics and the layer
each per-layer metric belongs to.
"""
