"""Layered benchmark of rapids_and_rivers_spark; see README.md."""
