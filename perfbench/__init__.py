"""Closed-loop benchmark of the metrique_spark package (see README.md)."""
