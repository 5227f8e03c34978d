"""Session factory settings that change how the driver talks to the JVM."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled

from nostr_data_pipeline_spark.session import default_driver_memory


def test_dataframe_origin_capture_is_off(spark):
    # off at session build: PySpark caches the flag on first use, and with it
    # on every F.* / Column call costs extra py4j round trips
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_default_driver_memory_is_a_quarter_of_ram_within_1g_4g():
    gib = 2**30
    assert default_driver_memory(16 * gib) == "4g"
    assert default_driver_memory(64 * gib) == "4g"
    assert default_driver_memory(8 * gib) == "2g"
    assert default_driver_memory(6 * gib) == "1g"
    assert default_driver_memory(2 * gib) == "1g"
    assert default_driver_memory() in {"1g", "2g", "3g", "4g"}
