"""Same-host benchmark for the extraction pipeline, the curation chain
and the query registry. Entry point: ``python3 perfbench/run.py``."""
