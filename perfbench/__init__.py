"""Benchmark of the engine: seeded inputs, four workloads, oracle checks."""
