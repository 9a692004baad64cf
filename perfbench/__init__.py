"""The repo benchmark: see ``perfbench/README.md``."""
