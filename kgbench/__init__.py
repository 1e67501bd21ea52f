"""KG-build benchmark harness (see README.md)."""
