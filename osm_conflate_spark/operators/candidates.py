"""J1 — nearest-neighbor candidate search as a cell equi-join.

Replaces the reference kd-tree (``conflate/conflate.py ::
match_dataset_points_smart`` building ``kdtree.create(...)``, SURVEY §3
J1).  The kd-tree's invariant — every (dataset, osm) pair within
``max_distance`` is examined — is preserved by the grid: the dataset
side is exploded to its k-ring-1 neighbor cells (<=9, distinct) and
equi-joined against the OSM side's single own-cell id, so each
qualifying pair appears exactly once (no post-join dedup needed;
SURVEY §5.2 "explode one side only").

Scale notes (100 TB thinking):
* the join is a plain shuffle hash/sort-merge equi-join on ``cell`` —
  AQE handles skewed cells; the session broadcasts the OSM side by its
  measured size (``autoBroadcastJoinThreshold``, 10m) and AQE re-plans
  the join from runtime stats;
* only 5 slim columns per side survive into the join (ids + coords) —
  tags/html never enter this exchange;
* the distance filter runs JVM-side with a +1e-6 m slack; the match
  kernel recomputes distance in numpy and applies the exact cutoff, so
  JVM-vs-libm 1-ulp drift can never change the match set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ConflateConfig
from ..functions import geo, sqlgen
from ..functions.geo import distance_udf

# slack added to the JVM-side prefilter; the numpy kernel applies the
# exact `<= max_distance` cut
_PREFILTER_SLACK_M = 1e-6


def with_osm_pk(osm: DataFrame) -> DataFrame:
    """Stable OSM point key: first letter of type + id ('n123', 'w45')."""
    return osm.withColumn(
        "osm_pk", F.concat(F.substring("osm_type", 1, 1), F.col("osm_id").cast("string"))
    )


def candidate_pairs(ds: DataFrame, osm: DataFrame, cfg: ConflateConfig) -> DataFrame:
    """(dataset_id, osm_pk, ds_lat, ds_lon, osm_lat, osm_lon, dist_pre,
    ds_cell, radius_eff).

    ``ds`` needs (id, lat, lon); ``osm`` needs (osm_type, osm_id, lat, lon).

    ``radius_eff`` is the per-pair match radius: the dataset point's
    category ``max_distance`` override (F3) when one exists, else
    ``cfg.max_distance``.  With no overrides it folds to a constant and
    the plan is unchanged.  Config raises cell_m to the widest radius in
    play, so k-ring-1 completeness holds for every override.
    """
    radii = cfg.category_radii
    use_cat = bool(radii) and "category" in ds.columns
    radius_eff = F.lit(float(cfg.max_distance))
    if use_cat:
        for cat, rr in sorted(radii.items()):
            radius_eff = F.when(
                F.col("category") == F.lit(cat), F.lit(float(rr))
            ).otherwise(radius_eff)
    ds_cols = [
        F.col("id").alias("dataset_id"),
        F.col("lat").alias("ds_lat"),
        F.col("lon").alias("ds_lon"),
    ] + ([F.col("category")] if use_cat else [])
    ds_slim = geo.kring_explode(
        ds.select(*ds_cols)
        .withColumn("radius_eff", radius_eff)
        .drop("category")
        .withColumn("ds_cell", geo.cell_col("ds_lat", "ds_lon", cfg.cell_m)),
        "ds_lat", "ds_lon", cfg.cell_m, out="cell",
    )
    osm_slim = (
        with_osm_pk(osm)
        .select(
            "osm_pk",
            F.col("lat").alias("osm_lat"),
            F.col("lon").alias("osm_lon"),
        )
        .withColumn("cell", geo.cell_col("osm_lat", "osm_lon", cfg.cell_m))
    )
    dist_pre = F.expr(
        sqlgen.distance_sql("ds_lat", "ds_lon", "osm_lat", "osm_lon")
    ).alias("dist_pre")
    return (
        ds_slim.join(osm_slim, "cell")
        .select(
            "dataset_id", "osm_pk", "ds_lat", "ds_lon",
            "osm_lat", "osm_lon", dist_pre, "ds_cell", "radius_eff",
        )
        .where(F.col("dist_pre") <= F.col("radius_eff") + F.lit(_PREFILTER_SLACK_M))
    )


# above this many distinct occupied cells the D2 occupancy table is too
# big to broadcast
_PREFILTER_MAX_CELLS = 20_000_000


def self_pairs(ds: DataFrame, radius: float) -> DataFrame:
    """Dataset self-join pairs strictly within ``radius`` (for D2).

    Emits each unordered pair once as ``(a_id, b_id)``, ``a_id < b_id``.

    Uses its OWN grid sized to the radius (e.g. 2 m cells for the 1 m
    duplicate_distance), NOT the 200 m match grid — at city densities the
    coarse grid would blow the self-join up by (cell_m/radius)^2.

    Occupancy prefilter (the scaling win): with a radius-sized grid the
    overwhelming majority of points are ALONE in their 3x3 neighborhood
    and can never pair.  A slim per-cell count (8-byte keys) is
    broadcast and each point sums the counts over its k-ring entirely
    map-side; only points with a neighbor (sum > 1) enter the pair
    self-join.  This removes the full-dataset shuffle the round-1 plan
    paid — the exploded k-ring rows never leave their input partition.
    Above ``_PREFILTER_MAX_CELLS`` distinct occupied cells the count
    table is too big to broadcast; the k-ring sum then falls back to a
    shuffle join over the SLIM (id, kcell) projection, which still
    keeps full rows out of the pair self-join.
    """
    grid_m = max(2.0, 2.0 * radius)
    base = ds.select("id", "lat", "lon").withColumn(
        "cell", geo.cell_col("lat", "lon", grid_m)
    )
    # slim occupancy counts; row count bounded by #distinct occupied cells
    cnt = base.groupBy("cell").count()
    n_cells = cnt.count()
    cnt_k = cnt.withColumnRenamed("cell", "kcell")
    if n_cells <= _PREFILTER_MAX_CELLS:
        # small enough to broadcast: the k-ring sum is entirely map-side
        cnt_k = F.broadcast(cnt_k)
    # else: plain shuffle join on the SLIM (id, kcell) projection — still
    # far lighter than shuffling full rows through the pair self-join
    kr = geo.kring_explode(
        base.select("id", "lat", "lon"), "lat", "lon", grid_m, out="kcell"
    ).select("id", "kcell")
    near = (
        kr.join(cnt_k, "kcell")
        # partial (map-side) agg collapses the <=9 rows per id before
        # any exchange — the shuffle carries one slim row per point
        .groupBy("id")
        .agg(F.sum("count").alias("nnear"))
        .where(F.col("nnear") > 1)
        .select("id")
        .localCheckpoint(eager=True)  # small; exact stats -> AQE broadcast
    )
    ds = ds.select("id", "lat", "lon").join(near, "id", "left_semi")
    left = geo.kring_explode(
        ds.select(
            F.col("id").alias("a_id"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
        ),
        "a_lat", "a_lon", grid_m, out="cell",
    )
    right = (
        ds.select(
            F.col("id").alias("b_id"),
            F.col("lat").alias("b_lat"),
            F.col("lon").alias("b_lon"),
        )
        .withColumn("cell", geo.cell_col("b_lat", "b_lon", grid_m))
    )
    dist_pre = F.expr(
        sqlgen.distance_sql("a_lat", "a_lon", "b_lat", "b_lon")
    ).alias("dist_pre")
    pre = (
        left.join(right, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_lat", "a_lon", "b_lat", "b_lon", dist_pre)
        .where(F.col("dist_pre") < F.lit(radius + _PREFILTER_SLACK_M))
    )

    # Exact recheck in numpy with the STRICT `< radius` cut, mirroring the
    # match path where the kernel's numpy distance is authoritative — the
    # JVM prefilter's +1e-6 m slack must not admit boundary pairs the
    # sequential oracle rejects.  Arrow-batched, and only over the already
    # radius-prefiltered (tiny) pair set.
    return (
        pre.withColumn("dist", distance_udf("a_lat", "a_lon", "b_lat", "b_lon"))
        .where(F.col("dist") < F.lit(radius))
        .select("a_id", "b_id")
    )
