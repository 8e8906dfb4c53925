"""Benchmark of the beacon ELT and curation pipelines; see NOTES.md."""
