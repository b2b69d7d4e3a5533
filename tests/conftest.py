import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osm_conflate_spark.plans.pipeline import build_session

    # build_session's 48g default heap is sized for big benchmark boxes;
    # the test JVM needs far less, and on a small machine a 48g heap gets
    # the JVM OOM-killed.  An explicit SPARK_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    s = build_session(app="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
