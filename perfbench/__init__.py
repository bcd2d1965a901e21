"""Benchmark of the PulseLake engine: see run.py."""
