"""Benchmark of the batukh_spark engine; see run.py and BENCHMARK.json."""
