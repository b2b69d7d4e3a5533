"""J3 match-predicate hook, J7 moveability."""

from pyspark.sql import functions as F

from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark import reference_model as rm
from osm_conflate_spark.gen import gen_dataset, gen_osm
from osm_conflate_spark.operators.changes import moveability
from osm_conflate_spark.plans.pipeline import ConflatePipeline

from helpers import (
    ds_to_oracle, ds_to_spark, matched_set_oracle, matched_set_spark,
    osm_to_oracle, osm_to_spark,
)


def test_j3_match_predicate_engine_equals_oracle(spark):
    # defined as a closure so cloudpickle ships it by VALUE — a module-level
    # function in tests/ isn't importable on executor python workers
    def _amenity_must_match(osm_tags, ds_tags):
        # equal amenities required, and fuel stations never auto-match
        return (
            osm_tags.get("amenity") == ds_tags.get("amenity")
            and ds_tags.get("amenity") != "fuel"
        )

    ds_pdf = gen_dataset(120, seed=51, dup_id_frac=0, spatial_dup_frac=0)
    osm_pdf = gen_osm(ds_pdf, seed=52)
    cfg = ConflateConfig(matches=_amenity_must_match)
    res_o = rm.conflate(ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg)
    pipe = ConflatePipeline(spark, cfg)
    res_s = pipe.run(ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf))
    assert matched_set_spark(res_s["matched"]) == matched_set_oracle(res_o)
    # the predicate must actually bite: fewer matches than without it
    res_o_free = rm.conflate(
        ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), ConflateConfig()
    )
    assert len(res_o["matched_pairs"]) < len(res_o_free["matched_pairs"])


def test_j7_moveability(spark):
    changes = spark.createDataFrame(
        [
            ("modify", "node", 1), ("modify", "node", 2),
            ("modify", "way", 3), ("create", "node", None),
        ],
        "action string, osm_type string, osm_id long",
    )
    membership = spark.createDataFrame([(1, 100)], "node_id long, way_id long")
    rows = {r["osm_id"]: r["can_move"] for r in moveability(changes, membership).collect()}
    assert rows[1] is False      # node in a way -> cannot move
    assert rows[2] is True       # free node -> movable
    assert rows[3] is None       # way -> not applicable
    assert rows[None] is None    # create -> not applicable
    # without a membership table: NULL (documented gap)
    rows2 = {r["osm_id"]: r["can_move"] for r in moveability(changes, None).collect()}
    assert all(v is None for v in rows2.values())


def test_f3_category_radius_override(spark):
    """Two categories with different match radii: engine == oracle, and
    the override actually changes the match set vs the global radius."""
    ds_pdf = gen_dataset(150, seed=71, dup_id_frac=0, spatial_dup_frac=0)
    ds_pdf = ds_pdf.reset_index(drop=True)
    ds_pdf["category"] = [
        "shortreach" if i % 2 == 0 else None for i in range(len(ds_pdf))
    ]
    osm_pdf = gen_osm(ds_pdf, seed=72)
    cfg = ConflateConfig(
        categories=(
            ("shortreach", (("max_distance", 20.0), ("source", "survey"))),
        )
    )
    res_o = rm.conflate(ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg)
    pipe = ConflatePipeline(spark, cfg)
    res_s = pipe.run(ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf))
    assert matched_set_spark(res_s["matched"]) == matched_set_oracle(res_o)
    # the override must bite: fewer matches than with the global 100 m
    res_o_free = rm.conflate(
        ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), ConflateConfig()
    )
    assert len(res_o["matched_pairs"]) < len(res_o_free["matched_pairs"])
    # the extra tag rode along, the reserved key did not become a tag
    tagged = [
        c for c in res_o["changes"]
        if c["tags"].get("source") == "survey"
    ]
    assert tagged
    assert all("max_distance" not in c["tags"] for c in res_o["changes"])


def test_u2_weight_hook_engine_equals_oracle(spark):
    """Weight hook: higher-weight dataset points match first.  Tiny
    deterministic scenario + generated differential."""
    # closure (cloudpickle by value — see test_j3 note)
    def _w(ds_tags):
        return float(ds_tags.get("prio", "0"))

    # two dataset points compete for ONE osm point; the farther one has
    # higher weight and must win
    import pandas as pd

    ds_pdf = pd.DataFrame(
        dict(
            id=["dA", "dB"],
            lat=[10.0, 10.0],
            lon=[20.0003, 20.0001],       # dA ~33 m, dB ~11 m from osm
            tags_raw=["name=A;prio=5", "name=B;prio=1"],
            category=[None, None],
            remarks=[None, None],
            url=["uA", "uB"],
        )
    )
    osm_pdf = pd.DataFrame(
        dict(
            osm_type=["node"], osm_id=[1], version=[1],
            lat=[10.0], lon=[20.0], tags_raw=["name=O"],
        )
    )
    cfg = ConflateConfig(weight=_w)
    res_o = rm.conflate(ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg)
    assert [m["dataset_id"] for m in res_o["matched_pairs"]] == ["dA"]
    pipe = ConflatePipeline(spark, cfg)
    res_s = pipe.run(ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf))
    assert matched_set_spark(res_s["matched"]) == matched_set_oracle(res_o)

    # generated differential: weight from a tag-derived value
    def _w2(ds_tags):
        return float(len(ds_tags.get("name", "")) % 3)

    ds2 = gen_dataset(120, seed=81, dup_id_frac=0, spatial_dup_frac=0)
    osm2 = gen_osm(ds2, seed=82)
    cfg2 = ConflateConfig(weight=_w2)
    res_o2 = rm.conflate(ds_to_oracle(ds2), osm_to_oracle(osm2), cfg2)
    res_s2 = ConflatePipeline(spark, cfg2).run(
        ds_to_spark(spark, ds2), osm_to_spark(spark, osm2)
    )
    assert matched_set_spark(res_s2["matched"]) == matched_set_oracle(res_o2)


def test_j6_audit_fix_coordinates(spark):
    """Audit coordinate override pins a matched node's final position."""
    from helpers import changes_set_oracle, changes_set_spark

    ds_pdf = gen_dataset(60, seed=91, dup_id_frac=0, spatial_dup_frac=0)
    osm_pdf = gen_osm(ds_pdf, seed=92)
    cfg = ConflateConfig()
    # pick a dataset id that actually matches (run once without audit)
    base = rm.conflate(ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg)
    fixed_id = base["matched_pairs"][0]["dataset_id"]
    audit = {fixed_id: {"fix_lat": 1.5, "fix_lon": 2.5}}
    res_o = rm.conflate(ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg, audit)
    audit_df = spark.createDataFrame(
        [(fixed_id, False, False, True, 1.5, 2.5)],
        "dataset_id string, skip boolean, keep boolean, move boolean, "
        "fix_lat double, fix_lon double",
    )
    res_s = ConflatePipeline(spark, cfg).run(
        ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf), audit=audit_df
    )
    assert changes_set_spark(res_s["changes"]) == changes_set_oracle(res_o)
    fixed_rows = [
        c for c in res_o["changes"] if c["dataset_id"] == fixed_id
    ]
    assert fixed_rows and fixed_rows[0]["lat"] == 1.5 and fixed_rows[0]["lon"] == 2.5
