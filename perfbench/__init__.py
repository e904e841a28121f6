"""Closed-loop benchmark of the engine's Delta paths; entry point ``run.py``."""
