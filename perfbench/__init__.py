"""End-to-end and per-layer benchmark of the extraction engine; see
``perfbench/README.md`` and ``python3 perfbench/run.py --help``."""
