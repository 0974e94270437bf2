"""Benchmark of the RTA registrations engine (see README.md)."""
