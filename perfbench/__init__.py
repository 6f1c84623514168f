"""Benchmark for the ADS-B ingest and dashboard paths (see WORKLOADS.md)."""
