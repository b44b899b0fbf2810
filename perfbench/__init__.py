"""Benchmark of the sheet sync path and the operator library (see README.md)."""
