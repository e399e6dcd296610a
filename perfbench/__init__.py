"""Elevation-engine benchmark (see perfbench/README.md)."""
