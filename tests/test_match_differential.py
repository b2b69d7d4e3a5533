"""Differential tests: the distributed engine must equal the pure-Python
oracle EXACTLY — match set, change set, tiles (FIXTURES cases H, I, L
plus the randomized world).  This is the core correctness gate for the
exact distributed greedy matcher (SURVEY §8.4)."""

import numpy as np
import pytest

from osm_conflate_spark import reference_model as rm
from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.functions import sqlgen
from osm_conflate_spark.gen import gen_dataset, gen_osm, offset_meters
from osm_conflate_spark.plans.pipeline import ConflatePipeline

from helpers import (
    changes_set_oracle,
    changes_set_spark,
    ds_to_oracle,
    ds_to_spark,
    matched_set_oracle,
    matched_set_spark,
    osm_to_oracle,
    osm_to_spark,
)


def run_both(spark, ds_pdf, osm_pdf, cfg, audit=None, audit_df=None):
    res_o = rm.conflate(
        ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg, audit=audit
    )
    pipe = ConflatePipeline(spark, cfg)
    res_s = pipe.run(
        ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf), audit=audit_df
    )
    return res_o, res_s


def assert_equal_results(res_o, res_s):
    assert matched_set_spark(res_s["matched"]) == matched_set_oracle(res_o)
    assert changes_set_spark(res_s["changes"]) == changes_set_oracle(res_o)
    tiles_s = {
        (r["dataset_id"], r["z"], r["x"], r["y"]) for r in res_s["tiles"].collect()
    }
    assert tiles_s == set(res_o["tiles"])


@pytest.mark.parametrize("seed", [42, 7])
def test_random_world(spark, seed):
    ds = gen_dataset(250, seed=seed)
    osm = gen_osm(ds, seed=seed + 1)
    cfg = ConflateConfig()
    res_o, res_s = run_both(spark, ds, osm, cfg)
    assert_equal_results(res_o, res_s)
    # sanity: the scenario exercises every action type
    actions = {c["action"] for c in res_o["changes"]}
    assert {"modify", "create", "delete"} <= actions


def test_radius_above_default_cell(spark):
    """max_distance 250 m > the 200 m default cell: config widens the
    grid to the radius instead of rejecting it, and the engine still
    equals the oracle."""
    ds = gen_dataset(200, seed=11)
    osm = gen_osm(ds, seed=12, max_distance=250.0)
    cfg = ConflateConfig(max_distance=250.0)
    assert cfg.cell_m == 250.0
    res_o, res_s = run_both(spark, ds, osm, cfg)
    assert_equal_results(res_o, res_s)
    # the oracle matches pairs a 200 m grid would not guarantee
    assert max(m["dist"] for m in res_o["matched_pairs"]) > 200.0


def test_case_h_cross_cell_borders(spark):
    """Clusters straddling cell boundaries: points +-1 m around grid
    lines — exercises k-ring completeness + block conflict resolution."""
    cfg = ConflateConfig(block_cells=2)  # tiny blocks -> maximal sharing
    h = sqlgen.band_height_deg(cfg.cell_m)
    rng = np.random.default_rng(5)
    rows_ds, rows_osm = [], []
    k = 0
    for band in range(45000, 45005):  # boundary latitudes
        blat = -90.0 + band * h
        for j in range(20):
            lat = blat + rng.uniform(-2e-5, 2e-5)  # ~+-2 m around the line
            lon = 10.0 + j * 0.004 + rng.uniform(-2e-5, 2e-5)
            rows_ds.append((f"d{k:05d}", lat, lon))
            d, b = rng.uniform(0, 110), rng.uniform(0, 2 * np.pi)
            ola, olo = offset_meters(np.array([lat]), np.array([lon]), d, b)
            rows_osm.append((k + 1, float(ola[0]), float(olo[0])))
            k += 1
    import pandas as pd

    ds = pd.DataFrame(
        {
            "id": [r[0] for r in rows_ds],
            "lat": [r[1] for r in rows_ds],
            "lon": [r[2] for r in rows_ds],
            "tags_raw": ["name=x"] * k,
            "category": [None] * k,
            "remarks": [None] * k,
            "url": [f"u{i}" for i in range(k)],
        }
    )
    osm = pd.DataFrame(
        {
            "osm_type": ["node"] * k,
            "osm_id": [r[0] for r in rows_osm],
            "version": [1] * k,
            "lat": [r[1] for r in rows_osm],
            "lon": [r[2] for r in rows_osm],
            "tags_raw": ["name=x"] * k,
        }
    )
    res_o, res_s = run_both(spark, ds, osm, cfg)
    assert_equal_results(res_o, res_s)


def test_case_i_dense_cell_salted(spark):
    """One urban cluster inside ~a cell with a tiny salt cap — the salted
    kernel must still equal the unsalted oracle."""
    rng = np.random.default_rng(9)
    n = 400
    lat0, lon0 = 55.75, 37.61
    import pandas as pd

    lat = lat0 + rng.uniform(-9e-4, 9e-4, n)   # ~+-100 m
    lon = lon0 + rng.uniform(-1.5e-3, 1.5e-3, n)
    ds = pd.DataFrame(
        {
            "id": [f"d{i:05d}" for i in range(n)],
            "lat": lat,
            "lon": lon,
            "tags_raw": ["name=x"] * n,
            "category": [None] * n,
            "remarks": [None] * n,
            "url": [f"u{i}" for i in range(n)],
        }
    )
    olat = lat0 + rng.uniform(-9e-4, 9e-4, n)
    olon = lon0 + rng.uniform(-1.5e-3, 1.5e-3, n)
    osm = pd.DataFrame(
        {
            "osm_type": ["node"] * n,
            "osm_id": np.arange(1, n + 1, dtype=np.int64),
            "version": [1] * n,
            "lat": olat,
            "lon": olon,
            "tags_raw": ["name=x"] * n,
        }
    )
    cfg = ConflateConfig(salt_cap_pairs=1000, duplicate_distance=0.01)
    res_o, res_s = run_both(spark, ds, osm, cfg)
    assert matched_set_spark(res_s["matched"]) == matched_set_oracle(res_o)


def test_determinism_two_runs(spark):
    ds = gen_dataset(150, seed=3)
    osm = gen_osm(ds, seed=4)
    cfg = ConflateConfig()
    _, r1 = run_both(spark, ds, osm, cfg)
    _, r2 = run_both(spark, ds, osm, cfg)
    assert matched_set_spark(r1["matched"]) == matched_set_spark(r2["matched"])
    assert changes_set_spark(r1["changes"]) == changes_set_spark(r2["changes"])
