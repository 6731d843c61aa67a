"""Benchmark of the extraction job and the dedup/curation operators; see run.py."""
