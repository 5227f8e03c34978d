"""Session factory settings that change how the driver talks to the JVM."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled


def test_dataframe_origin_capture_is_off(spark):
    # off at session build: PySpark caches the flag on first use, and with it
    # on every F.* / Column call costs extra py4j round trips
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
