"""End-to-end and per-layer benchmark for doctor_spark (run ``perfbench/run.py``)."""
