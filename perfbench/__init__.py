"""Benchmark harness for geogeometry_spark (see README.md)."""
