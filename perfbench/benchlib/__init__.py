"""Support modules for perfbench/run.py."""
