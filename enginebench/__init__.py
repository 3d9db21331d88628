"""Benchmark of the mrjob_spark engine; see DESIGN.md and run.py."""
