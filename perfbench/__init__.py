"""Benchmark of the map-index engine: see README.md."""
