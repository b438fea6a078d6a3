"""Benchmark for the G-Stream streaming path and the operator registry."""
