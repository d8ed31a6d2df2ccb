"""Benchmark of sgp_sketch: see README.md in this directory."""
