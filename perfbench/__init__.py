"""Layered benchmark of nova_pulsar_spark; entry point: perfbench/run.py."""
