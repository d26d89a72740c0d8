"""linkgraph benchmark harness (see README.md)."""
