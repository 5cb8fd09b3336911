"""Seeded end-to-end and per-layer benchmark of the choetl_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload lookup_upsert --seed 1 --seconds 8 --trace 0

See ``perfbench/run.py`` for the workloads and ``BENCHMARK.json`` for the
metric contract.
"""
