from __future__ import annotations

import pytest

from killrweather_spark.session import get_session
from killrweather_spark.streaming.protobuf_shim import enable_vendored_protobuf
from tests.weather_inputs import write_weather_inputs

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"

# Must run at import time, BEFORE any SparkSession launches the JVM: the
# gateway snapshots the driver environment, and transformWithStateInPandas
# workers need the shim's PYTHONPATH entry to find google.protobuf.
PROTOBUF_STATUS = enable_vendored_protobuf()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_session(
        app_name="killrweather_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            # static conf: must be set at session creation (catalog tables in
            # the bucketed-layout tests land in a throwaway warehouse)
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@pytest.fixture(scope="session")
def weather_inputs():
    """Write the seeded ISD-lite inputs (``tests/weather_inputs.py``) once
    per session; tests address them through ``WEATHER_INPUTS``."""
    return write_weather_inputs()
