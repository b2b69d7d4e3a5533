"""Catalog/table front end — the Iceberg surface (SURVEY §2.5, §8.7).

BASELINE.json's input is "an Iceberg table of Common-Crawl-style web
pages"; at cluster scale that is ``spark.read.table('cat.db.pages')``
with the Iceberg catalog configured on the session.  The sandbox has no
Iceberg runtime jar, so parquet paths stand in locally — this module
makes the production switch a CONFIG change, not a code change:

* :func:`read_input` dispatches path-vs-table on the reference shape;
* :func:`iceberg_session_conf` builds the standard catalog conf block
  to pass into ``build_session(extra_conf=...)`` / ``spark-submit
  --conf`` (values per the public Iceberg Spark quickstart);
* the CLI accepts table names directly in ``--pages/--osm`` plus
  repeated ``--conf k=v`` for the catalog wiring.

Iceberg specifically (vs plain parquet) buys the 10^12-row run: snapshot
isolation for resumable stages, partition-pruned scans via hidden
partitioning (e.g. ``days(warc_ts)``), and metadata-only file pruning —
all consumed through the same DataFrame reader, which is why no other
engine code needs to know.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .osm_xml import read_osm_xml


def looks_like_path(ref: str) -> bool:
    """Paths contain a separator, a scheme, a ``.parquet``/``.osm``
    suffix, or exist on disk; anything else is treated as a catalog table
    name (``cat.db.table``).

    Dotted multi-part names win over the filesystem-existence fallback:
    ``cat.db.pages`` is a table even if a file of that name happens to
    sit in the CWD (the existence check only disambiguates bare
    single-part names).  Callers can force either side with the explicit
    ``table:`` / ``path:`` prefixes handled by :func:`read_input`.
    """
    if "/" in ref or ref.endswith((".parquet", ".osm")) or "://" in ref:
        return True
    if "." in ref:  # dotted name => catalog reference, never a CWD file
        return False
    return os.path.exists(ref)


def read_input(spark: SparkSession, ref: str) -> DataFrame:
    """Read a pipeline input from a parquet path, an OSM XML file or a
    catalog table.

    A path ending in ``.osm`` is OSM/Overpass XML (the reference's
    ``--osm saved.osm``), parsed to osm_points rows by
    :func:`osm_xml.read_osm_xml`, one document per file.
    ``table:cat.db.pages`` / ``path:some/dir`` prefixes override the
    heuristic dispatch entirely.
    """
    if ref.startswith("table:"):
        return spark.read.table(ref[len("table:"):])
    if ref.startswith("path:"):
        return _read_path(spark, ref[len("path:"):])
    if looks_like_path(ref):
        return _read_path(spark, ref)
    return spark.read.table(ref)


def _read_path(spark: SparkSession, path: str) -> DataFrame:
    if path.endswith(".osm"):
        docs = spark.read.text(path, wholetext=True)
        return read_osm_xml(docs, xml_col="value")
    return spark.read.parquet(path)


def iceberg_session_conf(
    catalog: str,
    warehouse: str,
    catalog_type: str = "hadoop",
    impl: str = "org.apache.iceberg.spark.SparkCatalog",
) -> dict:
    """Session conf enabling an Iceberg catalog named ``catalog``.

    Requires the iceberg-spark-runtime jar on the cluster classpath
    (spark-submit ``--packages org.apache.iceberg:iceberg-spark-runtime-
    3.5_2.12:<ver>``); returns plain conf so callers merge it into
    build_session(extra_conf=...) or spark-submit --conf flags.
    """
    return {
        f"spark.sql.catalog.{catalog}": impl,
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
