"""The repository's benchmark harness; entry point perfbench/run.py."""
