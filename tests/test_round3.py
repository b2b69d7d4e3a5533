"""Round-3 additions: E2 audit round-trip (SURVEY §4 E2), unbiased IVF
centroids on clustered ids, config-hash hook-body sensitivity, catalog
dispatch prefixes, fingerprint NULL parity, tmpfs headroom guard, driver
heap sized from the machine."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_conflate_spark import reference_model as rm
from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.gen import gen_dataset, gen_osm
from osm_conflate_spark.operators import similarity as sim
from osm_conflate_spark.plans.lineage import config_hash
from osm_conflate_spark.plans.pipeline import ConflatePipeline

from helpers import (
    changes_set_oracle, changes_set_spark, ds_to_oracle, ds_to_spark,
    matched_set_spark, osm_to_oracle, osm_to_spark,
)


# ---------------------------------------------------------------------------
# E2 — library use / audit round-trip (SURVEY §4 E2): run E1, derive an
# audit from the FIRST run's own output (the reference workflow: upload
# preview to the audit UI, download decisions), rerun, assert overrides
# applied and the run is deterministic under the audit.
# ---------------------------------------------------------------------------

def test_e2_audit_round_trip(spark):
    ds_pdf = gen_dataset(80, seed=93, dup_id_frac=0, spatial_dup_frac=0)
    osm_pdf = gen_osm(ds_pdf, seed=94)
    cfg = ConflateConfig()
    ds_df, osm_df = ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf)

    run1 = ConflatePipeline(spark, cfg).run(ds_df, osm_df)
    matched1 = matched_set_spark(run1["matched"])
    assert matched1, "fixture must produce matches"
    ids = sorted(d for d, _, _ in matched1)
    skip_ids, fix_ids = ids[:3], ids[3:5]

    audit_rows = [(i, True, False, True, None, None) for i in skip_ids] + [
        (i, False, False, True, 9.25, -3.5) for i in fix_ids
    ]
    audit_df = spark.createDataFrame(
        audit_rows,
        "dataset_id string, skip boolean, keep boolean, move boolean, "
        "fix_lat double, fix_lon double",
    )
    audit_dict = {i: {"skip": True} for i in skip_ids}
    audit_dict.update({i: {"fix_lat": 9.25, "fix_lon": -3.5} for i in fix_ids})

    res_o = rm.conflate(
        ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg, audit_dict
    )
    run2 = ConflatePipeline(spark, cfg).run(ds_df, osm_df, audit=audit_df)
    changes2 = changes_set_spark(run2["changes"])
    assert changes2 == changes_set_oracle(res_o)

    # overrides applied: skipped ids never match; fixed matched ids pinned
    matched2 = matched_set_spark(run2["matched"])
    matched2_ids = {d for d, _, _ in matched2}
    assert not matched2_ids & set(skip_ids)
    fixed_rows = [
        c for c in changes2 if c[7] in fix_ids and c[7] in matched2_ids
    ]
    assert fixed_rows and all(
        c[4] == 9.25 and c[5] == -3.5 for c in fixed_rows
    )

    # determinism: the audited run replays identically (E2 contract)
    run3 = ConflatePipeline(spark, cfg).run(ds_df, osm_df, audit=audit_df)
    assert changes_set_spark(run3["changes"]) == changes2
    # pairs not touched by the audit (and not competing with a freed OSM
    # point) are stable across the round-trip
    freed_osm = {o for d, o, _ in matched1 if d in set(skip_ids)}
    stable1 = {
        (d, o) for d, o, _ in matched1
        if d not in set(skip_ids) and o not in freed_osm
    }
    assert stable1 <= {(d, o) for d, o, _ in matched2}


# ---------------------------------------------------------------------------
# IVF — stratified centroids on an id-clustered corpus (round-2 verdict
# "What's wrong" #2: lowest-id sampling collapses when the first n ids
# are one dense cluster)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def clustered_emb(spark):
    """100 vectors, 3 far-apart clusters with pseudo-random per-member
    jitter; ids 0..49 are ALL cluster A — the adversarial layout for a
    lowest-id centroid sample (every low-id centroid sits in A, so B1/B2
    members get bucketed by jitter noise and their neighbors scatter)."""
    import hashlib

    dim = 8

    def pj(i, dims, scale):
        v = np.zeros(dim)
        for j in dims:
            h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
            v[j] = ((h % 1000) / 1000 - 0.5) * 2 * scale
        return v

    rows = []
    for i in range(100):
        if i < 50:
            v = np.array([10.0, 0, 0, 0, 0, 0, 0, 0]) + pj(i, [1, 2, 3], 0.4)
        elif i < 75:
            v = np.array([0, 0, 0, 0, 10.0, 0, 0, 0]) + pj(i, [1, 2, 3, 5, 6], 0.4)
        else:
            v = np.array([0, 0, 0, 0, 0, 0, 0, 10.0]) + pj(i, [1, 2, 3, 5, 6], 0.4)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<double>",
    ).cache()


def _recall(exact_df, approx_df):
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_df.collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_df.collect()}
    return len(exact & approx) / len(exact)


def test_ivf_stratified_beats_lowest_id_centroids(spark, clustered_emb):
    corpus = clustered_emb
    queries = corpus.where(
        F.col("vec_id").isin(list(range(50, 60)) + list(range(75, 85)))
    )
    exact = sim.brute_force_topk(queries, corpus, k=5)
    # adversarial baseline: the round-2 centroid rule (lowest 9 ids —
    # all cluster A)
    biased_cents = (
        corpus.orderBy(F.col("vec_id").asc()).limit(9)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    biased = sim.ivf_topk(
        queries, corpus, k=5, n_centroids=9, n_probe=3, centroids=biased_cents
    )
    # portable hash so the stratified picks match the prototyped draw
    # (hash-stratification covers all three clusters at n=9)
    from osm_conflate_spark.functions.sqlgen import hash60_sql

    stratified = sim.ivf_topk(
        queries, corpus, k=5, n_centroids=9, n_probe=3,
        hash_sql=hash60_sql("CAST(vec_id AS STRING)", "spark"),
    )
    r_biased, r_strat = _recall(exact, biased), _recall(exact, stratified)
    assert r_strat >= 0.95, f"stratified recall {r_strat}"
    assert r_biased <= 0.85, f"biased recall {r_biased}"


def test_measure_ivf_recall_logs_lineage(spark, clustered_emb):
    corpus = clustered_emb
    queries = corpus.where(F.col("vec_id") < 5)
    lineage: list = []
    recall = sim.measure_ivf_recall(
        queries, corpus, k=3, n_centroids=4, n_probe=2, lineage=lineage
    )
    assert 0.0 <= recall <= 1.0
    assert lineage and lineage[0]["stage"] == "ivf_recall"
    assert lineage[0]["n_out"] <= lineage[0]["n_in"]
    assert recall == lineage[0]["n_out"] / lineage[0]["n_in"]


# ---------------------------------------------------------------------------
# dup_clusters — pair graph -> connected components (min-label
# propagation); chains must merge transitively, singletons survive
# ---------------------------------------------------------------------------

def test_dup_clusters_transitive_chain(spark):
    from osm_conflate_spark.operators.dedup import dup_clusters, dup_keepers

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    # two components: 1-2-3-4 chain (diameter 3 -> needs >1 round) and
    # 5-6; 7 isolated
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["doc"]: r["cluster_id"]
        for r in dup_clusters(docs, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}
    keepers = {
        r["cluster_id"]: (r["keeper_id"], r["n_members"])
        for r in dup_keepers(dup_clusters(docs, pairs)).collect()
    }
    assert keepers == {1: (1, 4), 5: (5, 2), 7: (7, 1)}


def test_dup_clusters_round_cap_raises(spark, monkeypatch):
    """The 1-2-3-4 chain needs more than one round; with the cap at 1 the
    labels are still changing, and dup_clusters must raise instead of
    returning unconverged clusters."""
    from osm_conflate_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "_MAX_CLUSTER_ROUNDS", 1)
    docs = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="labels still changing"):
        dd.dup_clusters(docs, pairs)


# ---------------------------------------------------------------------------
# config_hash — editing a hook body (same __qualname__) must change the
# hash (ADVICE round 2: stale --resume checkpoints served for edited
# lambdas)
# ---------------------------------------------------------------------------

def test_config_hash_sensitive_to_hook_body():
    cfg_a = ConflateConfig(weight=lambda tags: 1.0)
    cfg_b = ConflateConfig(weight=lambda tags: 2.0)
    cfg_a2 = ConflateConfig(weight=lambda tags: 1.0)
    assert config_hash(cfg_a) != config_hash(cfg_b)
    # identical body -> identical hash (resume stays valid across procs)
    assert config_hash(cfg_a) == config_hash(cfg_a2)
    # builtins (no __code__) still hash stably
    cfg_c = ConflateConfig(weight=len)
    assert config_hash(cfg_c) == config_hash(ConflateConfig(weight=len))
    # set-valued fields (master_tags) hash the same in every process, so
    # a fresh-process --resume finds its checkpoints: set iteration order
    # follows PYTHONHASHSEED
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from osm_conflate_spark.config import ConflateConfig\n"
        "from osm_conflate_spark.plans.lineage import config_hash\n"
        "print(config_hash(ConflateConfig(master_tags=frozenset("
        "{'name', 'opening_hours', 'phone', 'website', 'brand'}))))"
    )
    hashes = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=repo, check=True,
            capture_output=True, text=True,
            env=dict(os.environ, PYTHONHASHSEED=seed),
        ).stdout.strip()
        for seed in ("1", "4")
    }
    assert len(hashes) == 1, hashes


# ---------------------------------------------------------------------------
# catalog dispatch — explicit prefixes + dotted-name-over-CWD-file
# ---------------------------------------------------------------------------

def test_catalog_prefixes_and_dotted_names(spark, tmp_path, monkeypatch):
    from osm_conflate_spark.sources.catalog import looks_like_path, read_input

    p = str(tmp_path / "t.parquet")
    spark.range(3).write.mode("overwrite").parquet(p)
    assert read_input(spark, f"path:{p}").count() == 3
    spark.range(2).createOrReplaceTempView("cat_probe_v2")
    assert read_input(spark, "table:cat_probe_v2").count() == 2
    # a CWD file named like a catalog table must NOT shadow the table
    monkeypatch.chdir(tmp_path)
    (tmp_path / "ice.db.pages").mkdir()
    assert not looks_like_path("ice.db.pages")


# ---------------------------------------------------------------------------
# fingerprint NULL parity (ADVICE round 2)
# ---------------------------------------------------------------------------

def test_fingerprint_null_text_cross_engine(spark):
    import duckdb

    from osm_conflate_spark.functions import text as tf

    df = spark.createDataFrame(
        [(1, None), (2, "hello world document")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", tf.fingerprint_col("text", portable=True).alias("fp")
        ).collect()
    }
    assert got[1] is None and got[2] is not None
    duck = dict(
        duckdb.sql(
            "SELECT doc_id, "
            + tf.fingerprint_duck_sql("text")
            + " AS fp FROM (VALUES (1, CAST(NULL AS VARCHAR)), "
            "(2, 'hello world document')) t(doc_id, text)"
        ).fetchall()
    )
    assert duck == got


# ---------------------------------------------------------------------------
# tmpfs headroom guard (ADVICE round 2: 64MB /dev/shm containers)
# ---------------------------------------------------------------------------

def test_tmpfs_headroom_guard():
    from osm_conflate_spark.plans.pipeline import _tmpfs_has_headroom

    assert not _tmpfs_has_headroom("/nonexistent/path")
    # an absurd requirement must fail even on a big tmpfs
    assert not _tmpfs_has_headroom("/dev/shm", min_free=1 << 60)


# read at collection, before any fixture can set it
_LAUNCH_DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEM")


def test_session_heap_sized_from_machine(spark):
    """Without SPARK_DRIVER_MEM the driver heap is half the physical
    memory in whole GB, so no box needs a per-machine override."""
    expect = _LAUNCH_DRIVER_MEM
    if not expect:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        expect = f"{max(1, phys // 2 // 2**30)}g"
    assert spark.conf.get("spark.driver.memory") == expect


# ---------------------------------------------------------------------------
# sessionization: batch lag/cumsum vs a hand-computed oracle
# ---------------------------------------------------------------------------

def test_sessionize_batch_matches_pandas_oracle(spark):
    from osm_conflate_spark.streaming.sessions import sessionize

    rows = [
        # user 1: two sessions split by a >gap hole
        (1, 1, "2024-01-01 00:00:00", 1.0),
        (2, 1, "2024-01-01 00:10:00", 2.0),
        (3, 1, "2024-01-01 02:00:00", 3.0),
        # user 2: one session, single event
        (4, 2, "2024-01-01 05:00:00", 4.0),
    ]
    ev = spark.createDataFrame(
        [(e, u, pd.Timestamp(t).to_pydatetime(), v) for e, u, t, v in rows],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["total_value"]
        )
        for r in sessionize(ev, gap_seconds=1800).collect()
    }
    e = lambda t: int(pd.Timestamp(t).timestamp())
    assert got == {
        (1, e("2024-01-01 00:00:00")): (e("2024-01-01 00:10:00"), 2, 3.0),
        (1, e("2024-01-01 02:00:00")): (e("2024-01-01 02:00:00"), 1, 3.0),
        (2, e("2024-01-01 05:00:00")): (e("2024-01-01 05:00:00"), 1, 4.0),
    }


# ---------------------------------------------------------------------------
# raster -> vector: tile_summary bounds invert the forward tile mapping
# ---------------------------------------------------------------------------

def test_tile_summary_bounds_contain_points(spark):
    from osm_conflate_spark.operators.raster import tile_summary

    pts = spark.createDataFrame(
        [(55.75, 37.61), (55.75, 37.61), (-33.86, 151.2), (0.0, 0.0)],
        "lat double, lon double",
    )
    rows = tile_summary(pts, zoom=12).collect()
    assert sum(r["n_points"] for r in rows) == 4
    moscow = [r for r in rows if r["n_points"] == 2]
    assert len(moscow) == 1
    m = moscow[0]
    assert m["west"] <= 37.61 < m["east"]
    assert m["south"] <= 55.75 < m["north"]
    assert m["z"] == 12
    # bounds tile the plane: east edge of (x) == west edge of (x+1)
    for r in rows:
        assert r["west"] < r["east"] and r["south"] < r["north"]


# ---------------------------------------------------------------------------
# quality filter: thresholds fire on the right documents
# ---------------------------------------------------------------------------

def test_quality_filter_parts(spark):
    from osm_conflate_spark.functions.text import quality_filter_parts

    p = quality_filter_parts("text", "spark")
    df = spark.createDataFrame(
        [
            (1, "a good document with several plain english words here"),
            (2, "x"),                          # too few words
            (3, "1 2 3 4 5 6 7 8 9"),          # alpha ratio ~0
            (4, "a" * 61 + " b c d e"),        # mean word len 13 > 12
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in df.selectExpr("doc_id", f"{p['keep']} AS keep").collect()
    }
    assert got == {1: 1, 2: 0, 3: 0, 4: 0}


# ---------------------------------------------------------------------------
# point-in-polygon: SQL twin == Arrow UDF path, precedence, edge assert
# ---------------------------------------------------------------------------

def test_point_in_polygon_sql_twin_matches_udf(spark):
    """The portable ray-cast SQL (sqlgen.assign_region_sql) and the
    Arrow-batched numpy assigner (region.assign_region_col) are the same
    IEEE expression — run BOTH on Spark over a grid of points and
    require identical assignments, including the first-match precedence
    on the alpha/overlap intersection."""
    from osm_conflate_spark.functions import sqlgen
    from osm_conflate_spark.operators.region import assign_region_col

    regions = [
        ("alpha", [(5.0, -120.0), (48.0, -95.0), (55.0, -40.0),
                   (20.0, -20.0), (-10.0, -70.0)]),
        ("overlap", [(0.0, -140.0), (58.0, -60.0), (30.0, 20.0),
                     (-30.0, -50.0)]),
    ]
    pts = spark.range(0, 2000).selectExpr(
        "id",
        "CAST((id % 50) * 2.3 - 58.0 AS DOUBLE) AS lat",
        "CAST((id % 97) * 3.7 - 179.0 AS DOUBLE) AS lon",
    )
    via_sql = {
        r["id"]: r["region"]
        for r in pts.selectExpr(
            "id", f"{sqlgen.assign_region_sql('lat', 'lon', regions)} AS region"
        ).collect()
    }
    via_udf = {
        r["id"]: r["region"]
        for r in pts.select(
            "id", assign_region_col(regions).alias("region")
        ).collect()
    }
    assert via_sql == via_udf
    got = set(via_udf.values())
    assert "alpha" in got and "overlap" in got  # both rings non-trivially hit


def test_point_in_poly_sql_rejects_horizontal_edges():
    import pytest as _pytest

    from osm_conflate_spark.functions import sqlgen

    # ValueError (not assert) so the guard survives python -O
    with _pytest.raises(ValueError, match="horizontal edge"):
        sqlgen.point_in_poly_sql(
            "lat", "lon", [(0.0, 0.0), (0.0, 10.0), (5.0, 5.0)]
        )


# ---------------------------------------------------------------------------
# tile pyramid: ancestor rollup == direct re-binning at every level
# ---------------------------------------------------------------------------

def test_tile_pyramid_matches_direct_binning(spark):
    from osm_conflate_spark.functions import sqlgen
    from osm_conflate_spark.operators.raster import tile_pyramid

    pts = spark.range(0, 3000).selectExpr(
        "CAST((id % 113) * 1.07 - 60.0 AS DOUBLE) AS lat",
        "CAST((id % 331) * 1.03 - 170.0 AS DOUBLE) AS lon",
    )
    got = {
        (r["z"], r["x"], r["y"]): r["n_points"]
        for r in tile_pyramid(pts, zoom_max=10, zoom_min=7).collect()
    }
    for z in range(7, 11):
        direct = {
            (z, r["x"], r["y"]): r["n"]
            for r in pts.selectExpr(
                f"{sqlgen.tile_x_sql('lon', z)} AS x",
                f"{sqlgen.tile_y_sql('lat', z)} AS y",
            ).groupBy("x", "y").agg(_count_alias()).collect()
        }
        assert {k: v for k, v in got.items() if k[0] == z} == direct


def _count_alias():
    from pyspark.sql import functions as F

    return F.count(F.lit(1)).alias("n")


# ---------------------------------------------------------------------------
# polygon tile cover: centers in, corners-out excluded, bbox respected
# ---------------------------------------------------------------------------

def test_polygon_tile_cover_center_rule(spark):
    from osm_conflate_spark.operators.raster import (
        _ring_tile_bbox,
        polygon_tile_cover,
    )
    from osm_conflate_spark.operators.region import point_in_poly_np

    import numpy as np

    ring = [(5.0, -120.0), (48.0, -95.0), (55.0, -40.0),
            (20.0, -20.0), (-10.0, -70.0)]
    zoom = 6
    rows = polygon_tile_cover(spark, ring, zoom).collect()
    assert rows, "cover must be non-empty"
    x0, x1, y0, y1 = _ring_tile_bbox(ring, zoom)
    n = 1 << zoom
    arr = np.asarray(ring, dtype=np.float64)
    import math

    for r in rows:
        assert x0 <= r["x"] <= x1 and y0 <= r["y"] <= y1 and r["z"] == zoom
        # recompute the center containment in numpy — must agree
        lonc = (r["x"] + 0.5) * 360.0 / n - 180.0
        t = math.pi * (1.0 - 2.0 * (r["y"] + 0.5) / n)
        latc = math.degrees(math.atan(math.sinh(t)))
        assert point_in_poly_np([latc], [lonc], arr)[0]
