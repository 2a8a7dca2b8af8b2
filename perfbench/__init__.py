"""Benchmark for mvtspark: seeded workloads, end-to-end and per-layer metrics."""
