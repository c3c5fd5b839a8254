import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fluent_bit_clp_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # get_spark's 48g default heap is sized for a large driver host, more
    # than a small test host has; SPARK_DRIVER_MEM still overrides it.
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(app_name="pytest", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
