"""Benchmark of the dww_data_pipeline_spark engine (see run.py)."""
