"""End-to-end and per-layer benchmark for the extraction pipeline and the
near-dup dedup flow.  Entry point: ``python3 perfbench/run.py``."""
