"""End-to-end and per-layer benchmark for debias_spark (see README.md)."""
