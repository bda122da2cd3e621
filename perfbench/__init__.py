"""Standalone benchmark of the VCR loop (record → estimate → replay) and
of the corpus-prep query. Run it with ``python3 perfbench/run.py``; see
``perfbench/README.md``."""
