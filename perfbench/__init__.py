"""Benchmark of the dwh_with_dask_spark engine (see NOTES.md)."""
