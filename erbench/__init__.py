"""Same-box benchmark for resolve_spark; see run.py."""
