"""Tests: OSM XML ingest SRC5, CSV/JSON dataset readers SRC2, CLI
end-to-end (parquet and ``.osm`` XML input), audit J6 in the Spark
engine, osc/geojson structure."""

import json
import os

from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark import reference_model as rm
from osm_conflate_spark.gen import gen_dataset, gen_osm, gen_pages, parse_tags_raw
from osm_conflate_spark.plans.pipeline import ConflatePipeline
from osm_conflate_spark.sources import dataset as src_ds
from osm_conflate_spark.sources.osm_xml import read_osm_xml

from helpers import ds_to_oracle, ds_to_spark, osm_to_oracle, osm_to_spark, \
    changes_set_oracle, changes_set_spark

OSM_XML = """<?xml version='1.0'?>
<osm version="0.6">
 <node id="11" version="3" lat="52.5" lon="13.4">
   <tag k="amenity" v="cafe"/><tag k="name" v="A &amp; B"/>
 </node>
 <node id="12" version="1" lat="52.6" lon="13.5"/>
 <way id="21" version="2">
   <center lat="52.51" lon="13.41"/>
   <nd ref="11"/><tag k="building" v="yes"/>
 </way>
 <relation id="31" version="1">
   <center lat="52.52" lon="13.42"/><tag k="type" v="multipolygon"/>
 </relation>
</osm>"""


def test_osm_xml_ingest(spark):
    df = spark.createDataFrame([(OSM_XML,)], "xml string")
    rows = {(r["osm_type"], r["osm_id"]): r for r in read_osm_xml(df).collect()}
    assert set(rows) == {("node", 11), ("way", 21), ("relation", 31)}  # untagged skipped
    assert rows[("node", 11)]["version"] == 3
    assert rows[("node", 11)]["tags"]["name"] == "A & B"
    assert abs(rows[("way", 21)]["lat"] - 52.51) < 1e-12  # center collapse


def test_csv_json_readers(spark, tmp_path):
    csv = tmp_path / "d.csv"
    csv.write_text("id,lat,lon,name,amenity\nx1,52.5,13.4,Cafe X,cafe\n")
    df = src_ds.from_csv(spark, str(csv), tag_cols=("name", "amenity"))
    r = df.collect()[0]
    assert r["id"] == "x1" and r["tags"]["name"] == "Cafe X"

    js = tmp_path / "d.json"
    js.write_text(json.dumps({"id": "y1", "lat": 1.0, "lon": 2.0,
                              "tags": {"name": "Y"}}) + "\n")
    r2 = src_ds.from_json(spark, str(js)).collect()[0]
    assert r2["id"] == "y1" and r2["tags"] == {"name": "Y"}


def test_from_pages_matches_generator(spark):
    ds = gen_dataset(40, seed=11, dup_id_frac=0, spatial_dup_frac=0)
    pages = gen_pages(ds, seed=11)
    sdf = spark.createDataFrame(
        pages[["url", "warc_ts", "html", "lang"]],
        schema="url string, warc_ts timestamp, html binary, lang string",
    )
    out = src_ds.from_pages(sdf)
    got = {r["id"]: r for r in out.collect()}
    assert set(got) == set(ds["id"])
    for i in range(len(ds)):
        assert abs(got[ds["id"].iloc[i]]["lat"] - ds["lat"].iloc[i]) < 1e-12


def test_audit_overrides_spark_equals_oracle(spark):
    ds_pdf = gen_dataset(80, seed=21, dup_id_frac=0, spatial_dup_frac=0)
    osm_pdf = gen_osm(ds_pdf, seed=22)
    cfg = ConflateConfig()
    # audit: skip first id, forbid move on second, keep one orphan ref id
    a_skip = ds_pdf["id"].iloc[0]
    a_nomove = ds_pdf["id"].iloc[1]
    orphan_ref = "gone0000001"
    audit = {
        a_skip: {"skip": True},
        a_nomove: {"move": False},
        orphan_ref: {"keep": True},
    }
    res_o = rm.conflate(ds_to_oracle(ds_pdf), osm_to_oracle(osm_pdf), cfg, audit)
    audit_df = spark.createDataFrame(
        [
            (a_skip, True, False, True),
            (a_nomove, False, False, False),
            (orphan_ref, False, True, True),
        ],
        "dataset_id string, skip boolean, keep boolean, move boolean",
    )
    pipe = ConflatePipeline(spark, cfg)
    res_s = pipe.run(
        ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf), audit=audit_df
    )
    assert changes_set_spark(res_s["changes"]) == changes_set_oracle(res_o)


def test_osc_and_geojson_structure(spark):
    ds_pdf = gen_dataset(30, seed=31, dup_id_frac=0, spatial_dup_frac=0)
    osm_pdf = gen_osm(ds_pdf, seed=32)
    pipe = ConflatePipeline(spark, ConflateConfig())
    res = pipe.run(ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf))
    osc = res["osc"].collect()
    assert osc
    import xml.etree.ElementTree as ET

    for r in osc:
        el = ET.fromstring(r["xml"])  # every row is well-formed XML
        assert el.tag in ("node", "way", "relation")
        assert el.get("id") is not None and el.get("version") is not None
    for r in res["geojson"].collect():
        f = json.loads(r["feature"])
        assert f["type"] == "Feature" and f["geometry"]["type"] == "Point"
        assert f["properties"]["marker_color"].startswith("#")


def _cli_world(spark, tmp_path):
    """The 50-point CLI world: pages and OSM parquet paths, and the OSM
    frame they were written from."""
    ds_pdf = gen_dataset(50, seed=41, dup_id_frac=0, spatial_dup_frac=0)
    osm_pdf = gen_osm(ds_pdf, seed=42)
    pages = gen_pages(ds_pdf, seed=41)
    pages_path = str(tmp_path / "pages")
    osm_path = str(tmp_path / "osm")
    spark.createDataFrame(
        pages[["url", "warc_ts", "html", "lang"]],
        schema="url string, warc_ts timestamp, html binary, lang string",
    ).write.parquet(pages_path)
    spark.createDataFrame(
        osm_pdf.drop(columns=["kind"]),
        schema="osm_type string, osm_id long, version int, lat double, lon double, tags_raw string",
    ).write.parquet(osm_path)
    return pages_path, osm_path, osm_pdf


def test_cli_end_to_end(spark, tmp_path):
    pages_path, osm_path, _ = _cli_world(spark, tmp_path)

    from osm_conflate_spark.cli import main

    out = str(tmp_path / "out")
    main(["--pages", pages_path, "--osm", osm_path, "--out", out])
    assert os.path.exists(os.path.join(out, "changes_out"))
    changes = spark.read.parquet(os.path.join(out, "changes_out"))
    assert changes.count() > 0
    lineage = spark.read.parquet(os.path.join(out, "lineage_out"))
    assert lineage.count() > 0
    # resume: rerunning must reuse checkpoints (stage manifests exist)
    assert os.path.exists(os.path.join(out, "match.manifest.json"))


def test_cli_osm_xml_equals_parquet(spark, tmp_path):
    """``--osm saved.osm`` (the reference's offline input) conflates to
    the same change rows as the same world read from parquet."""
    import xml.etree.ElementTree as ET

    from osm_conflate_spark.cli import main

    pages_path, osm_path, osm_pdf = _cli_world(spark, tmp_path)
    root = ET.Element("osm", version="0.6")
    for r in osm_pdf.itertuples():
        lat, lon = repr(float(r.lat)), repr(float(r.lon))
        el = ET.SubElement(
            root, r.osm_type, id=str(r.osm_id), version=str(r.version)
        )
        if r.osm_type == "node":
            el.set("lat", lat)
            el.set("lon", lon)
        else:
            ET.SubElement(el, "center", lat=lat, lon=lon)
        for k, v in parse_tags_raw(r.tags_raw).items():
            ET.SubElement(el, "tag", k=k, v=v)
    xml_path = str(tmp_path / "osm.osm")
    ET.ElementTree(root).write(xml_path, encoding="utf-8", xml_declaration=True)

    changes = {}
    for name, ref in (("parquet", osm_path), ("xml", xml_path)):
        out = str(tmp_path / f"out_{name}")
        main(["--pages", pages_path, "--osm", ref, "--out", out])
        changes[name] = changes_set_spark(
            spark.read.parquet(os.path.join(out, "changes_out"))
        )
    assert changes["parquet"] and changes["xml"] == changes["parquet"]


OSC_WAY_XML = """<?xml version='1.0'?>
<osm version="0.6">
 <way id="77" version="4">
   <center lat="10.0" lon="20.0"/>
   <nd ref="101"/><nd ref="102"/><nd ref="103"/>
   <tag k="building" v="yes"/><tag k="ref:test" v="w1"/>
 </way>
 <relation id="88" version="2">
   <center lat="10.1" lon="20.1"/>
   <member type="way" ref="77" role="outer"/>
   <member type="node" ref="101" role=""/>
   <tag k="type" v="multipolygon"/><tag k="ref:test" v="r1"/>
 </relation>
</osm>"""


def test_osc_way_members_carry_through(spark):
    """A modified/deleted way serializes with its <nd> children (no
    lat/lon attrs); a relation with its <member> children — golden check
    for the round-1 gap of ways serialized like nodes."""
    from osm_conflate_spark.operators.changes import osc_rows

    xml_df = spark.createDataFrame([(OSC_WAY_XML,)], "xml string")
    osm = read_osm_xml(xml_df)
    assert {r["osm_id"]: r["nds"] for r in osm.collect()}[77] == [101, 102, 103]

    changes = spark.createDataFrame(
        [
            ("modify", "way", 77, 4, 10.0, 20.0, {"building": "yes"}, "w1", 5.0),
            ("delete", "relation", 88, 2, 10.1, 20.1, {"type": "x"}, "r1", None),
            ("create", "node", None, 1, 10.2, 20.2, {"name": "n"}, "d1", None),
        ],
        "action string, osm_type string, osm_id long, version int, lat double, "
        "lon double, tags map<string,string>, dataset_id string, match_dist double",
    )
    rows = {r["action"]: r["xml"] for r in osc_rows(changes, osm).collect()}
    way = rows["modify"]
    assert '<nd ref="101"/><nd ref="102"/><nd ref="103"/>' in way
    assert ' lat=' not in way and way.startswith('<way id="77" version="4">')
    rel = rows["delete"]
    assert '<member type="way" ref="77" role="outer"/>' in rel
    assert '<member type="node" ref="101" role=""/>' in rel
    node = rows["create"]
    assert ' lat="10.2" lon="20.2"' in node and "<nd" not in node
    # every row stays well-formed XML
    import xml.etree.ElementTree as ET

    for x in rows.values():
        ET.fromstring(x)
