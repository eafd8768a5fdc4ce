"""Benchmark of the kblock build; see run.py."""
