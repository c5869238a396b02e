"""Extraction-engine benchmark; entry point ``perfbench/run.py``."""
