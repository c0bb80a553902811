"""Stopping a session together with the JVM that pyspark launched."""

from __future__ import annotations


def stop_spark(spark) -> None:
    """Stop ``spark`` (if any) and the gateway JVM, and wait for the JVM
    process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=60)
