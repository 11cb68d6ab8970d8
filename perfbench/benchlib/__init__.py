"""Benchmark support code: seeded inputs, output checks, statistics,
driver-side spans, Spark event-log folding and the workloads."""
