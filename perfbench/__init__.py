"""Benchmark for the plan-driven extraction engine; see README.md."""
