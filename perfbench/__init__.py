"""Benchmark of the crawl engine; see run.py and BENCHMARK.json."""
