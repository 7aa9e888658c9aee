"""Closed-loop CDC benchmark for patuha_etl_dlt_spark; entry point ``run.py``."""
