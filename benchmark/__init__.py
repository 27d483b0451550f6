"""Seeded, oracle-checked benchmark of the engine; entry point run.py."""
