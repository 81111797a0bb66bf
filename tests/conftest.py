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


@pytest.fixture
def set_conf(spark):
    """set_conf(key, value): a session SQL setting, restored after the test."""
    old = {}

    def set_(key, value):
        old.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, str(value))

    yield set_
    for key, value in old.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)
