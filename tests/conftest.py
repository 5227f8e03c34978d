from __future__ import annotations

import os

import pytest

from nostr_data_pipeline_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "kafka: needs a real Kafka broker "
        "(set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port); self-skips otherwise",
    )


@pytest.fixture(scope="session")
def spark():
    # the test data is tiny; ParallelGC grows the heap toward its cap (a 24g
    # cap once grew it past 8 GB within half a suite run)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
