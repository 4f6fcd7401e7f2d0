"""Benchmark of the CDC validator: seeded inputs, workloads, tracing."""
