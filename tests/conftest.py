import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pysatl_cpd_spark.session import get_spark

    s = get_spark(cores=4, shuffle_partitions=4, driver_memory="8g")
    yield s
