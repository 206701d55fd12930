"""Extraction benchmark: drives ``ocr_spark`` through its public functions
on generated, pre-materialized corpora and prints one JSON result line.

Run it from the repository root::

    python3 perfbench/run.py --workload media_heavy --seed 1 --seconds 10 --trace 0

``BENCHMARK.json`` at the root names the workloads and metrics.
"""
