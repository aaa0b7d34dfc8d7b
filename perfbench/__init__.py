"""Benchmark of trialstreamer_spark: seeded workloads, correctness
oracles and span tracing around the package's public functions."""
