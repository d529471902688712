"""End-to-end and per-layer benchmark for ccog_spark (see README.md)."""
