"""Start and stop the Spark session the JVM workloads share."""

from __future__ import annotations

import subprocess

#: How long to wait for the JVM to exit before killing it.
STOP_TIMEOUT_S = 60.0


def start_session(app: str):
    from iceberg_evolve_spark.sources import get_session

    spark = get_session(app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
