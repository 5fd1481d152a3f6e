"""Layered end-to-end benchmark of the engine; see perfbench/README.md."""
