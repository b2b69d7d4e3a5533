"""Round-2 regression tests for VERDICT.md / ADVICE.md findings:

* F2 transform with MULTIPLE callable rules (late-binding closure bug —
  every rule silently executed the last callable);
* simhash_pairs full recall at the declared Hamming radius (fixed 4x16
  chunking only guaranteed recall for Hamming <= 3);
* spatial_dedup at every driver cap (the driver collect used to happen
  unconditionally BEFORE the size check): distributed rounds, driver
  finish, or both, all equal to the sequential scan.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_conflate_spark import reference_model as rm
from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.functions import tags as tagfns
from osm_conflate_spark.functions.sqlgen import M_PER_DEG
from osm_conflate_spark.operators import dedup as dd


# ---------------------------------------------------------------------------
# F2 — two callable transform rules must each run THEIR OWN callable
# ---------------------------------------------------------------------------

def test_transform_two_callables_bind_independently(spark):
    df = spark.createDataFrame(
        [("1", {"a": "x", "b": "y"}), ("2", {"a": "q", "c": "z"})],
        "id string, tags map<string,string>",
    )
    cfg = ConflateConfig(
        transform=(
            ("a", lambda v: v + "_A"),
            ("b", lambda v: v + "_B"),
        )
    )
    out = {
        r["id"]: dict(r["tags"])
        for r in tagfns.apply_transform(df, "tags", cfg).collect()
    }
    assert out["1"] == {"a": "x_A", "b": "y_B"}
    assert out["2"] == {"a": "q_A", "c": "z"}  # absent key untouched


# ---------------------------------------------------------------------------
# simhash recall at radius 8
# ---------------------------------------------------------------------------

def _popcount(x: int) -> int:
    return bin(x & ((1 << 64) - 1)).count("1")


def test_simhash_chunk_bounds_cover_64_bits():
    for h in [0, 1, 3, 8, 15, 31]:
        bounds = dd.simhash_chunk_bounds(h)
        assert len(bounds) == max(2, h + 1)
        assert sum(w for _, w in bounds) == 64
        # contiguous, non-overlapping
        pos = 0
        for start, w in bounds:
            assert start == pos and w >= 1
            pos += w


def test_simhash_pairs_full_recall_at_radius_8(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    words = base.split(" ")
    rows = [(0, base)]
    did = 1
    # single and multi-token substitutions around the base text — yields a
    # spread of pairwise Hamming distances including the 4..8 band the old
    # fixed 4x16 chunking could not guarantee
    for i, w in enumerate(words):
        rows.append((did, base.replace(w, w + "X")))
        did += 1
    for k in range(2, 7):
        toks = list(words)
        for j in range(k):
            toks[(j * 5 + k) % len(toks)] = toks[(j * 5 + k) % len(toks)] + f"Y{k}"
        rows.append((did, " ".join(toks)))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sig = {r["doc"]: r["sh"] for r in dd.simhash_signatures(df, "text", "doc_id").collect()}
    expected = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = _popcount(sig[a] ^ sig[b])
            if h <= 8:
                expected[(a, b)] = h

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_pairs(df, "text", "doc_id", max_hamming=8).collect()
    }
    assert got == expected

    # the test must actually exercise the old blind spot: at least one
    # expected pair in the 4..8 band whose four 16-bit chunks ALL differ
    # (the round-1 bucketing would have silently dropped it)
    def chunks16(x):
        return [(x >> (16 * i)) & 0xFFFF for i in range(4)]

    blind = [
        (a, b) for (a, b), h in expected.items()
        if 4 <= h <= 8
        and all(ca != cb for ca, cb in zip(chunks16(sig[a]), chunks16(sig[b])))
    ]
    assert blind, "test data produced no pair in the old 4x16 blind spot"


def test_simhash_rejects_absurd_radius(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dd.simhash_pairs(df, "text", "doc_id", max_hamming=64)


# ---------------------------------------------------------------------------
# D2 — distributed rounds + driver finish == sequential semantics
# ---------------------------------------------------------------------------

def _dup_ds(spark):
    lat0, lon0 = 10.0, 20.0
    step = 0.8 / M_PER_DEG  # 0.8 m in latitude degrees
    rows = []
    # chain of 7 points 0.8 m apart: sequential scan keeps even indices
    for i in range(7):
        rows.append((f"c{i:03d}", lat0 + i * step, lon0))
    # triangle: z1 kept, z2/z3 both within 1 m of z1 -> dropped
    rows.append(("z001", lat0 + 1.0, lon0))
    rows.append(("z002", lat0 + 1.0 + step, lon0))
    rows.append(("z003", lat0 + 1.0, lon0 + step))
    # isolated points
    rows.append(("i001", lat0 - 1.0, lon0))
    rows.append(("i002", lat0 - 2.0, lon0))
    return spark.createDataFrame(rows, "id string, lat double, lon double")


_EXPECTED_KEEP = sorted(
    ["c000", "c002", "c004", "c006", "z001", "i001", "i002"]
)


@pytest.mark.parametrize("cap", [500_000, 0, 3])
def test_spatial_dedup_keep_set(spark, cap):
    """The fixture has 8 dup edges: the default cap is one driver scan,
    cap 0 runs every round distributed (the path that protects the
    driver from adversarial dup volumes), and cap 3 runs 2 rounds (8 and
    4 edges) before the driver finishes the last 2."""
    ds = _dup_ds(spark)
    cfg = ConflateConfig(duplicate_distance=1.0, dedup_driver_max_pairs=cap)
    keep = sorted(r["id"] for r in dd.spatial_dedup(ds, cfg).collect())
    assert keep == _EXPECTED_KEEP


def _dense_world(seed=11, n=120, clusters=4, width_m=3.0):
    """Seeded points in ``clusters`` squares ``width_m`` wide; ids are
    shuffled against position so the scan order crosses the clusters."""
    rng = np.random.default_rng(seed)
    c = rng.integers(0, clusters, n)
    lat = 10.0 + c * 0.01 + rng.uniform(0, width_m, n) / M_PER_DEG
    lon = 20.0 + rng.uniform(0, width_m, n) / M_PER_DEG
    ids = rng.permutation(n)
    return [rm.SourcePoint(f"p{i:04d}", float(a), float(b))
            for i, a, b in zip(ids, lat, lon)]


@pytest.mark.parametrize("cap", [0, 40, 500_000])
def test_spatial_dedup_matches_reference(spark, cap):
    """Dense metre-scale clusters (long keep/drop chains) at a cap that
    forces every round distributed, one below the edge count (rounds,
    then the driver finish) and the default (driver scan only)."""
    pts = _dense_world()
    n_edges = sum(
        rm.distance(p.lat, p.lon, q.lat, q.lon) < 1.0
        for i, p in enumerate(pts) for q in pts[i + 1:]
    )
    assert 40 < n_edges < 500_000
    ds = spark.createDataFrame(
        [(p.id, p.lat, p.lon) for p in pts], "id string, lat double, lon double"
    )
    cfg = ConflateConfig(duplicate_distance=1.0, dedup_driver_max_pairs=cap)
    keep = sorted(r["id"] for r in dd.spatial_dedup(ds, cfg).collect())
    want, _ = rm.spatial_dedup(pts, 1.0)
    assert keep == sorted(p.id for p in want)


def test_spatial_dedup_round_cap_raises(spark, monkeypatch):
    """The c000..c006 chain needs 3 fixpoint rounds; with the cap at 1
    edges remain, and the fixpoint must raise instead of keeping the
    undecided c003 and c005."""
    monkeypatch.setattr(dd, "_MAX_DEDUP_ROUNDS", 1)
    ds = _dup_ds(spark)
    cfg = ConflateConfig(duplicate_distance=1.0, dedup_driver_max_pairs=0)
    with pytest.raises(RuntimeError, match="dup edges remain"):
        dd.spatial_dedup(ds, cfg)


# ---------------------------------------------------------------------------
# ngram df-cap: one ubiquitous trigram must not blow up the self-join,
# and capped results (values + pairs) stay exact for real near-dups
# ---------------------------------------------------------------------------

def test_ngram_df_cap_survives_ubiquitous_gram(spark):
    rows = []
    for i in range(40):
        rows.append(
            (i, f"click here now unique text piece number {i} filler words {i * 7}")
        )
    rows.append((100, "the quick brown fox jumps over the lazy dog today"))
    rows.append((101, "the quick brown fox jumps over the lazy dog today"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    lineage = []
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.5, max_doc_freq=10, lineage=lineage
        ).collect()
    }
    assert capped == uncapped
    assert (100, 101) in capped and capped[(100, 101)] == 1.0
    # the ubiquitous grams were actually pruned, and not silently
    assert lineage and lineage[0]["stage"] == "ngram_df_cap"
    assert lineage[0]["n_out"] >= 5


# ---------------------------------------------------------------------------
# Iceberg/catalog surface + resume input fingerprint
# ---------------------------------------------------------------------------

def test_read_input_path_or_table(spark, tmp_path):
    from osm_conflate_spark.sources.catalog import (
        iceberg_session_conf,
        looks_like_path,
        read_input,
    )

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    assert read_input(spark, p).count() == 1           # path -> parquet
    df.createOrReplaceTempView("cat_probe_view")
    assert read_input(spark, "cat_probe_view").count() == 1  # name -> table
    assert looks_like_path("s3://bucket/x") and not looks_like_path("ice.db.pages")
    assert looks_like_path("extract.osm")  # OSM XML in the CWD, not a table
    conf = iceberg_session_conf("ice", "/warehouse")
    assert conf["spark.sql.catalog.ice.warehouse"] == "/warehouse"
    assert "spark.sql.catalog.ice" in conf


def test_resume_invalidates_on_input_change(spark, tmp_path):
    """--resume against DIFFERENT input must rebuild, not serve stale
    stage parquet (round-1 advice: resume keyed only on config hash)."""
    from osm_conflate_spark.gen import gen_dataset, gen_osm
    from osm_conflate_spark.plans.pipeline import ConflatePipeline
    from helpers import ds_to_spark, osm_to_spark

    def write_world(n, seed, name):
        ds_pdf = gen_dataset(n, seed=seed, dup_id_frac=0, spatial_dup_frac=0)
        osm_pdf = gen_osm(ds_pdf, seed=seed + 1)
        dsp = str(tmp_path / f"{name}_ds")
        osp = str(tmp_path / f"{name}_osm")
        ds_to_spark(spark, ds_pdf).write.parquet(dsp)
        osm_to_spark(spark, osm_pdf).write.parquet(osp)
        return dsp, osp

    out = str(tmp_path / "out")
    ds_a, osm_a = write_world(40, 201, "a")
    ds_b, osm_b = write_world(70, 301, "b")

    cfg = ConflateConfig()
    run_a = ConflatePipeline(spark, cfg, out_dir=out, resume=True).run(
        spark.read.parquet(ds_a), spark.read.parquet(osm_a)
    )
    n_a = run_a["changes"].count()
    # same out_dir, same config, DIFFERENT input -> must NOT reuse stages
    run_b = ConflatePipeline(spark, cfg, out_dir=out, resume=True).run(
        spark.read.parquet(ds_b), spark.read.parquet(osm_b)
    )
    n_b = run_b["changes"].count()
    fresh_b = ConflatePipeline(
        spark, cfg, out_dir=str(tmp_path / "fresh"), resume=False
    ).run(spark.read.parquet(ds_b), spark.read.parquet(osm_b))
    assert n_b == fresh_b["changes"].count()
    assert n_b != n_a  # and it genuinely reflects the new input
