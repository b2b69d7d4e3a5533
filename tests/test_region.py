"""F4 region filter tests: ray casting vs a pure-python twin, precedence,
bbox prefilter correctness."""

import numpy as np
import pandas as pd

from osm_conflate_spark.operators.region import (
    assign_region_col,
    point_in_poly_np,
)


def py_pip(lat, lon, ring):
    inside = False
    y1, x1 = ring[-1]
    for y2, x2 in ring:
        if (y1 > lat) != (y2 > lat) and lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1:
            inside = not inside
        y1, x1 = y2, x2
    return inside


SQUARE = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
TRIANGLE = [(20.0, 20.0), (30.0, 25.0), (20.0, 30.0)]


def test_pip_matches_python_twin():
    rng = np.random.default_rng(10)
    lat = rng.uniform(-5, 35, 3000)
    lon = rng.uniform(-5, 35, 3000)
    for ring in (SQUARE, TRIANGLE):
        r = np.asarray(ring)
        got = point_in_poly_np(lat, lon, r)
        want = np.array([py_pip(a, b, ring) for a, b in zip(lat, lon)])
        assert (got == want).all()


def test_assign_and_filter(spark):
    pdf = pd.DataFrame(
        {
            "id": ["in_sq", "in_tri", "outside"],
            "lat": [5.0, 22.0, 50.0],
            "lon": [5.0, 24.0, 50.0],
        }
    )
    df = spark.createDataFrame(pdf)
    regions = [("sq", SQUARE), ("tri", TRIANGLE)]
    tagged = {r["id"]: r["region"] for r in df.withColumn(
        "region", assign_region_col(regions)).collect()}
    assert tagged == {"in_sq": "sq", "in_tri": "tri", "outside": None}


def test_precedence_first_wins(spark):
    inner = [(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0)]
    regions = [("inner", inner), ("outer", SQUARE)]
    df = spark.createDataFrame(
        pd.DataFrame({"id": ["x"], "lat": [3.0], "lon": [3.0]})
    )
    r = df.withColumn("region", assign_region_col(regions)).collect()[0]
    assert r["region"] == "inner"
