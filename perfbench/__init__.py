"""Benchmark package: see perfbench/README.md."""
