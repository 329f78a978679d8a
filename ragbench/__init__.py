"""Seeded benchmark of the engine's public entry points (see README.md)."""
