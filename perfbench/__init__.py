"""Standalone ANN benchmark of the extended_rabitq_spark engine; see run.py."""
