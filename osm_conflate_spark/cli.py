"""spark-submit entry point.

Usage:
  spark-submit --py-files osm_conflate_spark.zip -m osm_conflate_spark.cli \
      --pages pages.parquet --osm osm.parquet --out out_dir \
      [--audit audit.parquet] [--max-distance 100] [--resume]

Mirrors the reference CLI surface (``conflate <profile> -i data -o osc``,
SURVEY §4 E1): input dataset (here: the pages table), OSM side (parquet,
catalog table or ``.osm`` XML), output directory receiving
changes/osc/geojson/tiles/metrics/lineage parquet, an optional audit
table, and checkpoint-resumable stages.
"""

from __future__ import annotations

import argparse
import json

from .config import ConflateConfig
from .plans.pipeline import ConflatePipeline, build_session
from .sources.dataset import from_pages
from .sources.extract import poi_tags_map_sql


def main(argv=None) -> None:
    ap = argparse.ArgumentParser("conflate-spark")
    ap.add_argument(
        "--pages",
        help="pages input: parquet path OR catalog table name, e.g. an "
        "Iceberg table 'ice.db.pages' (url, warc_ts, html, text, lang)",
    )
    ap.add_argument("--dataset", help="pre-extracted dataset_points parquet/table")
    ap.add_argument(
        "--osm", required=True,
        help="osm_points parquet path OR catalog table name, or an "
        "OSM/Overpass XML file ending in .osm (e.g. saved.osm)",
    )
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument(
        "--audit",
        help="audit parquet (dataset_id, skip, keep, move[, fix_lat, fix_lon])",
    )
    ap.add_argument("--dataset-id", default="test")
    ap.add_argument("--max-distance", type=float, default=100.0)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra session conf (repeatable) — e.g. the Iceberg catalog "
        "block from sources.catalog.iceberg_session_conf",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from .sources.catalog import read_input

    for kv in args.conf:
        if "=" not in kv:
            ap.error(f"--conf expects K=V, got {kv!r}")
    extra_conf = dict(kv.split("=", 1) for kv in args.conf)
    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session(app="conflate-spark", extra_conf=extra_conf)
    cfg = ConflateConfig(dataset_id=args.dataset_id, max_distance=args.max_distance)
    pipe = ConflatePipeline(spark, cfg, out_dir=args.out, resume=args.resume)

    if args.pages:
        ds = from_pages(read_input(spark, args.pages))
    elif args.dataset:
        ds = read_input(spark, args.dataset)
    else:
        ap.error("need --pages or --dataset")
    osm = read_input(spark, args.osm)
    if "tags_raw" in osm.columns and "tags" not in osm.columns:
        from pyspark.sql import functions as F

        osm = osm.withColumn("tags", F.expr(poi_tags_map_sql("tags_raw"))).drop(
            "tags_raw"
        )
    audit = spark.read.parquet(args.audit) if args.audit else None

    res = pipe.run(ds, osm, audit=audit)
    for name in ("changes", "tiles", "osc", "geojson"):
        res[name].write.mode("overwrite").parquet(f"{args.out}/{name}_out")
    metrics = {r["action"]: r["count"] for r in res["metrics"].collect()}
    res["lineage"]().write.mode("overwrite").parquet(f"{args.out}/lineage_out")
    print(json.dumps(dict(metrics=metrics)))
    if not preexisting:  # don't tear down a host application's session
        spark.stop()


if __name__ == "__main__":
    main()
