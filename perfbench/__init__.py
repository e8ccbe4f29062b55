"""Workload benchmark for the traffic-forecast engine (see run.py)."""
