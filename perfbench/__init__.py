"""Benchmark for flycatcher_spark: three seeded workloads, end-to-end and per-layer metrics."""
