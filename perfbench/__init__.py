"""Seeded end-to-end and per-layer benchmark of giraph_spark; see README.md."""
