"""F4 — region assignment: geocode points into named regions.

Reference: ``conflate/geocoder.py`` — geocodes each point against a
packed region index (SURVEY §3 F4).  Re-expression: regions are
polygons (small broadcastable list); each point gets a two-stage
test —

1. cheap vectorized bbox prefilter (numpy, per polygon), then
2. exact even-odd ray casting (vectorized numpy over the Arrow batch)

inside ONE Arrow-batched pandas UDF.  No per-row Python: the loop is
over polygons (handful), each step vectorized over the whole batch.
At 100 TB this is a map-only stage — no shuffle, no join; polygon
coords ride the task closure (broadcast).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# region polygons: list of (region_code, [(lat, lon), ...]) rings
RegionPolys = list


def point_in_poly_np(lat, lon, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting; ring is (n, 2) [lat, lon] rows.
    Boundary points follow the half-open convention of the algorithm
    (deterministic, documented — matches the pure-python twin)."""
    px = np.asarray(lon, dtype=np.float64)
    py = np.asarray(lat, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    y1, x1 = ring[-1]
    for y2, x2 in ring:
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
        y1, x1 = y2, x2
    return inside


def assign_region_col(regions: RegionPolys) -> Column:
    """(lat, lon) -> region code of the FIRST containing polygon (list
    order is precedence), else NULL."""
    prepared = [
        (code, np.asarray(ring, dtype=np.float64),
         np.asarray(ring, dtype=np.float64).min(axis=0),
         np.asarray(ring, dtype=np.float64).max(axis=0))
        for code, ring in regions
    ]

    @F.pandas_udf("string")
    def _assign(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        out = np.full(len(la), None, dtype=object)
        unassigned = np.ones(len(la), dtype=bool)
        for code, ring, mn, mx in prepared:
            cand = (
                unassigned
                & (la >= mn[0]) & (la <= mx[0])
                & (lo >= mn[1]) & (lo <= mx[1])
            )
            if not cand.any():
                continue
            idx = np.flatnonzero(cand)
            hit = point_in_poly_np(la[idx], lo[idx], ring)
            out[idx[hit]] = code
            unassigned[idx[hit]] = False
        return pd.Series(out)

    return _assign(F.col("lat"), F.col("lon"))

