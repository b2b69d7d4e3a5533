"""Change-set assembly: tag merge X2, node move X3, ref stamping X4,
create J4, delete/retag-with-vicinity J5, audit overrides J6, osc XML
rows X5, GeoJSON preview X6, z-tile assignment X8.

Reference: ``conflate/conflate.py :: register_match / to_osc``
(SURVEY §3).  Everything here is pure Column expressions over map-typed
tag columns — no Python UDFs; the expressions are written so that no
``map_concat`` call can ever see a duplicate key (policy-independent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ConflateConfig
from ..functions import geo

# ---------------------------------------------------------------------------
# X2 — tag merge with master-tag precedence + ref stamping (X4)
# ---------------------------------------------------------------------------

def merged_tags_col(
    ds_tags: str, osm_tags: str, cfg: ConflateConfig, dataset_id_col: str
) -> Column:
    """OSM tags overwritten by dataset tags for master keys / missing keys,
    then ``ref:<dataset_id> = id`` stamped (reference register_match)."""
    master = F.array(*[F.lit(t) for t in sorted(cfg.master_tags)])
    ds_apply = F.map_filter(
        F.col(ds_tags),
        lambda k, _v: F.array_contains(master, k)
        | ~F.map_contains_key(F.col(osm_tags), k),
    )
    keep_osm = F.map_filter(
        F.col(osm_tags), lambda k, _v: ~F.map_contains_key(ds_apply, k)
    )
    merged = F.map_concat(keep_osm, ds_apply)
    no_ref = F.map_filter(merged, lambda k, _v: k != F.lit(cfg.ref_key))
    return F.map_concat(
        no_ref, F.create_map(F.lit(cfg.ref_key), F.col(dataset_id_col))
    )


def tags_changed_col(a: Column, b: Column) -> Column:
    """Map equality via canonical sorted entry arrays (maps aren't
    directly comparable in Spark)."""
    return F.sort_array(F.map_entries(a)) != F.sort_array(F.map_entries(b))


def stamped_tags_col(tags: str, cfg: ConflateConfig, dataset_id_col: str) -> Column:
    """tags + ref:<dataset_id> = id (for creates, J4)."""
    no_ref = F.map_filter(F.col(tags), lambda k, _v: k != F.lit(cfg.ref_key))
    return F.map_concat(
        no_ref, F.create_map(F.lit(cfg.ref_key), F.col(dataset_id_col))
    )


def retagged_col(tags: str, cfg: ConflateConfig) -> tuple[Column, Column]:
    """Apply the ``tag_unmatched`` key renames; returns (new_tags, touched)."""
    cur: Column = F.col(tags)
    touched: Column = F.lit(False)
    for old, new in cfg.tag_unmatched_dict.items():
        has_old = F.map_contains_key(cur, F.lit(old))
        val = F.element_at(cur, F.lit(old))
        renamed = F.map_concat(
            F.map_filter(
                cur, lambda k, _v: (k != F.lit(old)) & (k != F.lit(new))
            ),
            F.create_map(F.lit(new), val),
        )
        cur = F.when(has_old, renamed).otherwise(cur)
        touched = touched | has_old
    return cur, touched


# ---------------------------------------------------------------------------
# Change assembly (J4/J5/J6 + X2/X3)
# ---------------------------------------------------------------------------

_CHANGE_COLS = [
    "action", "osm_type", "osm_id", "version",
    "lat", "lon", "tags", "dataset_id", "match_dist",
]

AUDIT_SCHEMA = (
    "dataset_id string, skip boolean, keep boolean, move boolean, "
    "fix_lat double, fix_lon double"
)
_AUDIT_DEFAULTS = {
    "skip": "boolean", "keep": "boolean", "move": "boolean",
    "fix_lat": "double", "fix_lon": "double",
}


def normalize_audit(audit: DataFrame) -> DataFrame:
    """Fill in any missing audit columns as NULLs so older audit tables
    (skip/keep/move only) keep working after the J6 coordinate-override
    columns (fix_lat/fix_lon) were added."""
    for col, typ in _AUDIT_DEFAULTS.items():
        if col not in audit.columns:
            audit = audit.withColumn(col, F.lit(None).cast(typ))
    return audit.select("dataset_id", *list(_AUDIT_DEFAULTS))


def build_changes(
    matched: DataFrame,
    ds: DataFrame,
    osm_pk_df: DataFrame,
    vicinity: DataFrame,
    cfg: ConflateConfig,
    audit: DataFrame | None = None,
) -> DataFrame:
    """Assemble the unified changes DataFrame (FIXTURES §2).

    matched:   (dataset_id, osm_pk, dist)
    ds:        (id, lat, lon, tags, ...)  — post-dedup dataset points
    osm_pk_df: osm points with osm_pk column — post-F1 filter
    vicinity:  distinct (osm_pk) within max_distance of any dataset point
    audit:     optional (dataset_id, skip, keep, move)
    """
    spark_any = matched.sparkSession
    if audit is None:
        audit = spark_any.createDataFrame([], AUDIT_SCHEMA)
    audit = F.broadcast(normalize_audit(audit))

    # Shared subframes: the four union branches each used to clone the
    # full ds/osm subplans with branch-specific projections and inferred
    # isnotnull filters, so Catalyst planned (and executed) the wide
    # shuffles once PER BRANCH — no exchange reuse fired.  The two
    # frames every branch pair shares (the ds-side left join below for
    # modify+create, the unmatched-OSM frame for delete+retag) are
    # truncated with a LAZY localCheckpoint instead: all consumers then
    # reference one RDD, its stages run once, and nothing executes until
    # the caller's first action (no caching across invocations — each
    # build_changes call makes a fresh frame, which stays pinned until
    # the caller unpersists it).
    ds_p = ds.select(
        F.col("id").alias("dataset_id"), "lat", "lon", "tags"
    )
    osm_p = osm_pk_df.select(
        "osm_pk", "osm_type", "osm_id", "version", "lat", "lon", "tags"
    )
    # One shuffle of ds serves modify AND create: matched.dataset_id is
    # unique and non-null (greedy 1:1) and matched.osm_pk is non-null,
    # so LEFT-join + isNotNull == the old inner join and + isNull == the
    # old left_anti, row for row.
    dsj = ds_p.join(matched, "dataset_id", "left").localCheckpoint(eager=False)

    # --- matched -> modify -------------------------------------------------
    m = (
        dsj.where(F.col("osm_pk").isNotNull())
        .select(
            "dataset_id", "osm_pk", "dist",
            F.col("lat").alias("ds_lat"),
            F.col("lon").alias("ds_lon"),
            F.col("tags").alias("ds_tags"),
        )
        .join(osm_p, "osm_pk")
        .select(
            "dataset_id", "osm_pk", "dist", "ds_lat", "ds_lon", "ds_tags",
            "osm_type", "osm_id", "version",
            F.col("lat").alias("osm_lat"),
            F.col("lon").alias("osm_lon"),
            F.col("tags").alias("osm_tags"),
        )
        .join(
            audit.select("dataset_id", "move", "fix_lat", "fix_lon"),
            "dataset_id", "left",
        )
    )
    merged = merged_tags_col("ds_tags", "osm_tags", cfg, "dataset_id")
    # J6 coordinate override: an audit fix pins the final coordinates,
    # replacing the move decision entirely (reference audit "fixes" a
    # match's position); the row is emitted iff tags changed OR the final
    # coords differ from the OSM ones
    has_fix = F.col("fix_lat").isNotNull() & F.col("fix_lon").isNotNull()
    moved_base = (
        (F.col("osm_type") == "node")
        & (F.col("dist") > F.lit(cfg.position_tolerance))
        & F.coalesce(F.col("move"), F.lit(True))
    )
    moved = F.when(
        has_fix,
        (F.col("fix_lat") != F.col("osm_lat")) | (F.col("fix_lon") != F.col("osm_lon")),
    ).otherwise(moved_base)
    final_lat = F.when(has_fix, F.col("fix_lat")).when(
        moved_base & ~has_fix, F.col("ds_lat")
    ).otherwise(F.col("osm_lat"))
    final_lon = F.when(has_fix, F.col("fix_lon")).when(
        moved_base & ~has_fix, F.col("ds_lon")
    ).otherwise(F.col("osm_lon"))
    changed = tags_changed_col(merged, F.col("osm_tags"))
    modify = (
        m.withColumn("tags", merged)
        .withColumn("moved", moved)
        .where(changed | F.col("moved"))
        .select(
            F.lit("modify").alias("action"),
            "osm_type", "osm_id", "version",
            final_lat.alias("lat"),
            final_lon.alias("lon"),
            "tags", "dataset_id",
            F.col("dist").alias("match_dist"),
        )
    )

    # --- unmatched dataset -> create (J4, via the shared left join) ---------
    create = (
        dsj.where(F.col("osm_pk").isNull())
        .select(
            F.lit("create").alias("action"),
            F.lit("node").alias("osm_type"),
            F.lit(None).cast("long").alias("osm_id"),
            F.lit(1).alias("version"),
            "lat", "lon",
            stamped_tags_col("tags", cfg, "dataset_id").alias("tags"),
            "dataset_id",
            F.lit(None).cast("double").alias("match_dist"),
        )
    )

    # --- unmatched OSM -> delete / retag (J5 + J6 keep) ----------------------
    un = (
        osm_p.join(matched.select("osm_pk"), "osm_pk", "left_anti")
        .withColumn("ref_val", F.element_at(F.col("tags"), F.lit(cfg.ref_key)))
        .join(
            vicinity.select("osm_pk").withColumn("in_vicinity", F.lit(True)),
            "osm_pk", "left",
        )
        .join(
            audit.select(
                F.col("dataset_id").alias("ref_val"), F.col("keep")
            ),
            "ref_val", "left",
        )
        .withColumn("in_vicinity", F.coalesce("in_vicinity", F.lit(False)))
        .withColumn("keep", F.coalesce("keep", F.lit(False)))
    ).localCheckpoint(eager=False)
    has_ref = F.col("ref_val").isNotNull()
    delete = (
        un.where(has_ref & F.lit(cfg.delete_unmatched) & ~F.col("keep"))
        .select(
            F.lit("delete").alias("action"),
            "osm_type", "osm_id", "version", "lat", "lon", "tags",
            F.col("ref_val").alias("dataset_id"),
            F.lit(None).cast("double").alias("match_dist"),
        )
    )
    newtags, touched = retagged_col("tags", cfg)
    retag_src = un.where(
        (has_ref & F.lit(not cfg.delete_unmatched) & ~F.col("keep"))
        | (~has_ref & F.col("in_vicinity"))
    )
    retag = (
        retag_src.withColumn("newtags", newtags)
        .withColumn("touched", touched)
        .where(F.col("touched"))
        .select(
            F.lit("retag").alias("action"),
            "osm_type", "osm_id", "version", "lat", "lon",
            F.col("newtags").alias("tags"),
            F.col("ref_val").alias("dataset_id"),
            F.lit(None).cast("double").alias("match_dist"),
        )
    )

    return (
        modify.select(*_CHANGE_COLS)
        .unionByName(create.select(*_CHANGE_COLS))
        .unionByName(delete.select(*_CHANGE_COLS))
        .unionByName(retag.select(*_CHANGE_COLS))
    )


# ---------------------------------------------------------------------------
# J7 — moveability check (offline)
# ---------------------------------------------------------------------------

def moveability(changes: DataFrame, node_way_membership: DataFrame | None) -> DataFrame:
    """Annotate change rows with ``can_move``: a modified NODE that is a
    member of any way must not be moved.

    Reference: ``conflate/osm.py :: check_moveability`` queries the OSM
    API per node; offline re-expression: broadcast-join against a
    ``node_way_membership(node_id, way_id)`` table when one is provided,
    else ``can_move`` is NULL (documented gap — no API at 100 TB scale).
    """
    if node_way_membership is None:
        return changes.withColumn("can_move", F.lit(None).cast("boolean"))
    members = F.broadcast(
        node_way_membership.select(F.col("node_id").alias("osm_id"))
        .distinct()
        .withColumn("_in_way", F.lit(True))
    )
    is_movable_row = (F.col("action") == "modify") & (F.col("osm_type") == "node")
    return (
        changes.join(members, "osm_id", "left")
        .withColumn(
            "can_move",
            F.when(is_movable_row, ~F.coalesce(F.col("_in_way"), F.lit(False)))
            .otherwise(F.lit(None).cast("boolean")),
        )
        .drop("_in_way")
    )


# ---------------------------------------------------------------------------
# X5 — osmChange XML rows (JVM-side string assembly)
# ---------------------------------------------------------------------------

def _xml_escape(c: Column) -> Column:
    for a, b in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                 ('"', "&quot;"), ("'", "&#39;")]:
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def osc_rows(changes: DataFrame, osm_geom: DataFrame | None = None) -> DataFrame:
    """(action, xml) — one serialized element per change row.

    Created objects get a deterministic negative placeholder id (the osc
    convention for new objects); the placeholder is NOT part of the
    semantic comparison surface (oracle compares ``changes`` rows).

    ``osm_geom`` (optional): (osm_type, osm_id, nds, members) from the
    OSM ingest — when given, modified/deleted WAYS are serialized with
    their ``<nd ref=../>`` children and RELATIONS with ``<member .../>``
    children instead of node-style lat/lon attributes (a real editor
    rejects a way without its nd list).  The join runs over the change
    set only (output-sized, not corpus-sized).
    """
    if osm_geom is not None and {"nds", "members"} <= set(osm_geom.columns):
        changes = changes.join(
            osm_geom.select("osm_type", "osm_id", "nds", "members"),
            ["osm_type", "osm_id"],
            "left",
        )
    else:
        changes = changes.withColumn(
            "nds", F.lit(None).cast("array<bigint>")
        ).withColumn(
            "members",
            F.lit(None).cast(
                "array<struct<mtype string, mref bigint, mrole string>>"
            ),
        )
    osm_id = F.coalesce(
        F.col("osm_id"), -F.abs(F.xxhash64(F.col("dataset_id")))
    )
    tag_xml = F.aggregate(
        F.sort_array(F.map_entries(F.col("tags"))),
        F.lit(""),
        lambda acc, kv: F.concat(
            acc,
            F.lit('<tag k="'), _xml_escape(kv["key"]),
            F.lit('" v="'), _xml_escape(kv["value"]), F.lit('"/>'),
        ),
    )
    nd_xml = F.aggregate(
        F.coalesce(F.col("nds"), F.expr("array()").cast("array<bigint>")),
        F.lit(""),
        lambda acc, r: F.concat(
            acc, F.lit('<nd ref="'), r.cast("string"), F.lit('"/>')
        ),
    )
    member_xml = F.aggregate(
        F.coalesce(
            F.col("members"),
            F.expr("array()").cast(
                "array<struct<mtype string, mref bigint, mrole string>>"
            ),
        ),
        F.lit(""),
        lambda acc, m: F.concat(
            acc,
            F.lit('<member type="'), _xml_escape(m["mtype"]),
            F.lit('" ref="'), m["mref"].cast("string"),
            F.lit('" role="'), _xml_escape(m["mrole"]), F.lit('"/>'),
        ),
    )
    is_node = F.col("osm_type") == "node"
    latlon_attrs = F.when(
        is_node,
        F.concat(
            F.lit(' lat="'), F.col("lat").cast("string"),
            F.lit('" lon="'), F.col("lon").cast("string"), F.lit('"'),
        ),
    ).otherwise(F.lit(""))
    children = F.concat(
        F.when(F.col("osm_type") == "way", nd_xml).otherwise(F.lit("")),
        F.when(F.col("osm_type") == "relation", member_xml).otherwise(F.lit("")),
        tag_xml,
    )
    xml = F.concat(
        F.lit("<"), F.col("osm_type"),
        F.lit(' id="'), osm_id.cast("string"),
        F.lit('" version="'), F.col("version").cast("string"),
        F.lit('"'), latlon_attrs,
        F.lit(">"), children,
        F.lit("</"), F.col("osm_type"), F.lit(">"),
    )
    return changes.select("action", xml.alias("xml"))


# ---------------------------------------------------------------------------
# X6 — GeoJSON preview features
# ---------------------------------------------------------------------------

_MARKER = {"create": "#11cc11", "modify": "#0000ee",
           "delete": "#ee0000", "retag": "#eeaa00"}


def geojson_rows(changes: DataFrame) -> DataFrame:
    color = F.coalesce(
        *[F.when(F.col("action") == a, F.lit(c)) for a, c in _MARKER.items()]
    )
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(F.col("lon"), F.col("lat")).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.col("action"), F.col("osm_type"), F.col("osm_id"),
            F.col("dataset_id"), F.col("match_dist"),
            color.alias("marker_color"),
        ).alias("properties"),
    )
    return changes.select(F.to_json(feature).alias("feature"))


# ---------------------------------------------------------------------------
# X8 — z-tile assignment for the raster summary layer
# ---------------------------------------------------------------------------

def tiles(ds: DataFrame, cfg: ConflateConfig) -> DataFrame:
    x, y = geo.tile_cols("lat", "lon", cfg.tile_zoom)
    return ds.select(
        F.col("id").alias("dataset_id"),
        F.lit(cfg.tile_zoom).alias("z"),
        x.alias("x"),
        y.alias("y"),
    )
