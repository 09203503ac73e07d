"""End-to-end benchmark of the real jobs; entry point ``perfbench/run.py``."""
