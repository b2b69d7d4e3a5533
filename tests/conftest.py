import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osm_conflate_spark.plans.pipeline import build_session

    s = build_session(app="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
