"""Benchmark for the specialsid_spark engine (see run.py)."""
