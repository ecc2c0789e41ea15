"""Closed-loop benchmark of deduper_spark: three workloads, end-to-end
metrics from untraced passes and per-layer metrics from a traced one.
See README.md in this directory."""
