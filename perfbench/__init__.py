"""Benchmark of the crawlspark engine; run ``python3 perfbench/run.py``."""
