"""End-to-end benchmark of the CDC engine; entry point ``perfbench/run.py``."""
