"""Benchmark for the calidad_del_aire_etl_spark package; see run.py."""
