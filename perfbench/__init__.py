"""Benchmark harness for the transcript_analysis_spark engine (see run.py)."""
