import os
import sys

import pytest

# import the checkout these tests live in, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osm_search_spark.session import get_spark

    s = get_spark("pytest", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
