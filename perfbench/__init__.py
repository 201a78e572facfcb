"""Benchmark of the import pipeline, the snapshot table format and the
query operators. Entry point: ``python3 perfbench/run.py --workload NAME``.
"""
