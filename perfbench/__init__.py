"""Seeded end-to-end and per-layer benchmark of the gelos_spark engine."""
