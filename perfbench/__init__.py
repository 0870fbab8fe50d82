"""Closed-loop benchmark of the engine through its public entry points."""
