"""J2 — exact distributed greedy nearest-first one-to-one matching.

Reference: ``conflate/conflate.py :: match_dataset_points_smart`` — a
sequential loop popping candidate pairs in ascending distance and
matching when both sides are unused, ties broken deterministically by
the total key ``(dist, dataset_id, osm_pk)`` (SURVEY §3 J2, §8.4).

Distributed design (exactness proof sketch in comments):

* Candidate pairs are grouped by a geometric super-block of the DATASET
  point's own cell, so ALL pairs of a given dataset point land in one
  group.  OSM points near block borders can appear in several groups
  ("shared").
* Per block, an ``applyInPandas`` numpy kernel simulates greedy with
  three vertex states (FREE / USED / FROZEN): a pair is committed only
  when it is the minimum live pair for BOTH endpoints and the OSM side
  is either unshared (all its pairs are local) or this pair is the OSM
  point's GLOBAL minimum (precomputed) — in either case sequential
  global greedy provably makes the same match.  Pairs that are locally
  minimal but not provably safe FREEZE their endpoints (nothing later
  on those endpoints may commit) and are deferred.
* The driver loop re-runs the kernel on deferred pairs (minus pairs
  killed by committed matches) until none remain.  Progress guarantee:
  the globally smallest live pair always commits, so the fixed point
  terminates; in practice >99% of pairs resolve in round 1 because
  shared OSM points only occur near block borders.
* Skew (BASELINE.json north_star "explicit salt-based skew splitting"):
  before round 0, blocks whose pair count exceeds ``cfg.salt_cap_pairs``
  are split by a WEIGHTED RANGE CUT over their cells — probe
  per-(block, ds_cell) pair counts for the oversized blocks only, sort
  cells by id (spatially row-major) and cut into contiguous chunks of
  ~equal pair count on the driver.  Balance is guaranteed by
  construction regardless of hotspot size (a fixed 4x4 quadrant grid
  measured max-kernel 2.70M of a 3.01M block when the hotspot fit
  inside one quadrant; id-hash salting made every dense-block OSM point
  shared and the deferral cascade cost more than the straggler it
  saved).  Only OSM points within max_distance of a 1-D cut line become
  shared.  Deferred rounds inherit the split block ids and are not
  re-split (on the adversarial-skew fixture, re-splitting them gave
  bit-identical live sets and a slower deferred-round straggler:
  3.7-4.0 s vs 2.0 s).
  Correctness is unaffected because splitting only increases the
  "shared" set, never breaks the all-pairs-of-one-dataset-point
  invariant.  Granularity floor: one CELL above the cap can't split
  further — at that density, lower cfg.cell_m (never below the widest
  match radius, which config enforces as its floor).

Everything inside the kernel is vectorized numpy (factorize + lexsort +
``np.minimum.at`` rounds); there is no per-row Python anywhere.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ConflateConfig
from ..functions.geo import distance_udf
from ..functions.sqlgen import CELL_SHIFT

_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("dataset_id", T.StringType()),
        T.StructField("osm_pk", T.StringType()),
        T.StructField("dist", T.DoubleType()),
        T.StructField("negw", T.DoubleType()),  # U2: -weight (0.0 = no hook)
        T.StructField("block", T.LongType()),
        T.StructField("status", T.StringType()),  # 'M' matched / 'D' deferred
    ]
)

_MAX_INNER_ROUNDS = 256
# outer rounds of the distributed greedy fixed point (safety valve:
# running out raises rather than return a partial matching)
_MAX_MATCH_ROUNDS = 64


def _block_col(cfg: ConflateConfig):
    """Super-block id from the dataset point's own cell id."""
    b = cfg.block_cells
    band = F.col("ds_cell") / F.lit(CELL_SHIFT)
    col = F.col("ds_cell") % F.lit(CELL_SHIFT)
    return (
        F.floor(band / b).cast("long") * F.lit(CELL_SHIFT)
        + F.floor(col / b).cast("long")
    ).alias("block")


def _greedy_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized block-local greedy with provable-commit rule."""
    import time as _time

    _t0 = _time.monotonic()
    n = len(pdf)
    dist = pdf["dist"].to_numpy(dtype=np.float64)
    ds_codes, _ = pd.factorize(pdf["dataset_id"].to_numpy())
    osm_codes, _ = pd.factorize(pdf["osm_pk"].to_numpy())
    n_ds = int(ds_codes.max()) + 1 if n else 0
    n_osm = int(osm_codes.max()) + 1 if n else 0

    # total order (negw, dist, dataset_id, osm_pk) — negw first so the U2
    # weight hook lets high-weight dataset points match before nearer
    # low-weight ones; all-zero negw reduces to pure nearest-first
    order = np.lexsort(
        (pdf["osm_pk"].to_numpy(), pdf["dataset_id"].to_numpy(), dist,
         pdf["negw"].to_numpy(dtype=np.float64))
    )
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n, dtype=np.int64)

    allowed = (~pdf["shared"].to_numpy()) | pdf["is_gmin"].to_numpy()

    FREE, USED, FROZEN = 0, 1, 2
    ds_state = np.zeros(n_ds, dtype=np.int8)
    osm_state = np.zeros(n_osm, dtype=np.int8)
    alive = np.ones(n, dtype=bool)
    matched = np.zeros(n, dtype=bool)
    INF = n + 1

    for _ in range(_MAX_INNER_ROUNDS):
        idx = np.flatnonzero(alive)
        if idx.size == 0:
            break
        ds_min = np.full(n_ds, INF, dtype=np.int64)
        osm_min = np.full(n_osm, INF, dtype=np.int64)
        np.minimum.at(ds_min, ds_codes[idx], rank[idx])
        np.minimum.at(osm_min, osm_codes[idx], rank[idx])
        elig = (
            alive
            & (rank == ds_min[ds_codes])
            & (rank == osm_min[osm_codes])
            & (ds_state[ds_codes] == FREE)
            & (osm_state[osm_codes] == FREE)
        )
        commit = elig & allowed
        freeze = elig & ~allowed
        if freeze.any():
            f_ds = ds_codes[freeze]
            f_osm = osm_codes[freeze]
            ds_state[f_ds] = np.where(ds_state[f_ds] == FREE, FROZEN, ds_state[f_ds])
            osm_state[f_osm] = np.where(
                osm_state[f_osm] == FREE, FROZEN, osm_state[f_osm]
            )
            alive &= ~freeze  # frozen pairs go straight to deferred output
        if not commit.any():
            break
        matched |= commit
        ds_state[ds_codes[commit]] = USED
        osm_state[osm_codes[commit]] = USED
        # drop committed pairs and every pair touching a USED endpoint
        alive &= (
            ~commit
            & (ds_state[ds_codes] != USED)
            & (osm_state[osm_codes] != USED)
        )

    deferred = (~matched) & (
        (ds_state[ds_codes] != USED) & (osm_state[osm_codes] != USED)
    )
    out = pdf.loc[
        matched | deferred,
        ["dataset_id", "osm_pk", "dist", "negw", "block"],
    ].copy()
    out["status"] = np.where(matched[matched | deferred], "M", "D")
    # per-group lineage row ('L'): n_in/n_out packed in the string cols,
    # wall ms in dist — split back out by greedy_match
    lineage = pd.DataFrame(
        {
            "dataset_id": [str(n)],
            "osm_pk": [str(int(matched.sum()))],
            "dist": [(_time.monotonic() - _t0) * 1000.0],
            "negw": [0.0],
            "block": [pdf["block"].iloc[0] if n else -1],
            "status": ["L"],
        }
    )
    return pd.concat([out, lineage], ignore_index=True)


def _local_greedy_finish(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact sequential greedy on a small driver-collected remainder.

    Valid because the live set is closed: every un-killed candidate pair
    of every still-unmatched vertex is present (kernels emit all
    non-dead pairs as deferred), so the continuation is the sequential
    reference algorithm verbatim.
    """
    order = np.lexsort(
        (pdf["osm_pk"].to_numpy(), pdf["dataset_id"].to_numpy(),
         pdf["dist"].to_numpy(dtype=np.float64),
         pdf["negw"].to_numpy(dtype=np.float64))
    )
    used_ds: set = set()
    used_osm: set = set()
    keep = []
    ds_arr = pdf["dataset_id"].to_numpy()
    osm_arr = pdf["osm_pk"].to_numpy()
    for i in order:
        d, o = ds_arr[i], osm_arr[i]
        if d in used_ds or o in used_osm:
            continue
        used_ds.add(d)
        used_osm.add(o)
        keep.append(i)
    return pdf.iloc[keep][["dataset_id", "osm_pk", "dist"]]


# remainders smaller than this are finished exactly on the driver instead
# of paying another distributed round (border pairs after round 1 are a
# tiny fraction; at true cluster scale rounds stay distributed until the
# remainder fits)
_DRIVER_FINISH_MAX = 200_000


def _exact_dist(pairs: DataFrame) -> DataFrame:
    """Recompute distance in numpy (Arrow-vectorized) and apply the exact
    per-pair cutoff ``radius_eff`` (F3 category overrides), so the
    kernel/oracle metric is authoritative (SURVEY §8.5)."""
    return (
        pairs.withColumn(
            "dist", distance_udf("ds_lat", "ds_lon", "osm_lat", "osm_lon")
        )
        .where(F.col("dist") <= F.col("radius_eff"))
        .drop("dist_pre")
    )


def apply_match_predicate(
    pairs: DataFrame, ds: DataFrame, osm_pk_df: DataFrame, cfg: ConflateConfig
) -> DataFrame:
    """J3 — veto candidate pairs with the profile ``matches(osm_tags,
    ds_tags)`` hook (reference ``conflate/conflate.py`` candidate filter).

    The hook is arbitrary user Python, so this is the one sanctioned
    Python-per-element path — Arrow-batched through a pandas UDF, only
    ever executed when a profile actually installs a hook.
    """
    fn = cfg.matches
    assert fn is not None

    @F.pandas_udf("boolean")
    def _ok(osm_tags: pd.Series, ds_tags: pd.Series) -> pd.Series:
        return pd.Series(
            [bool(fn(o if o is not None else {}, d if d is not None else {}))
             for o, d in zip(osm_tags, ds_tags)]
        )

    joined = (
        pairs.join(
            ds.select(F.col("id").alias("dataset_id"), F.col("tags").alias("ds_tags")),
            "dataset_id",
        )
        .join(
            osm_pk_df.select("osm_pk", F.col("tags").alias("osm_tags")), "osm_pk"
        )
    )
    return joined.where(_ok("osm_tags", "ds_tags")).drop("ds_tags", "osm_tags")


def prepare_pairs(pairs: DataFrame, cfg: ConflateConfig) -> DataFrame:
    """Candidate pairs -> slim (dataset_id, osm_pk, dist, block, ds_cell)
    with the authoritative numpy distance and the exact cutoff applied.

    ``pairs`` is :func:`..operators.candidates.candidate_pairs` output.
    ``ds_cell`` (8 bytes/pair) rides along so the skew guard can split
    oversized blocks SPATIALLY (only border OSM points defer).
    """
    return (
        _exact_dist(pairs)
        .withColumn("block", _block_col(cfg))
        .select("dataset_id", "osm_pk", "dist", "block", "ds_cell")
    )


def _split_oversized(
    spark: SparkSession,
    live: DataFrame,
    n_live: int,
    cfg: ConflateConfig,
    stats: Optional[dict],
) -> DataFrame:
    """Skew guard: re-key blocks above ``cfg.salt_cap_pairs`` pairs by a
    WEIGHTED RANGE CUT over their cells.

    Probe per-(block, ds_cell) pair counts for the oversized blocks only
    (a block is <= block_cells^2 cells and the oversized set is tiny, so
    the collect is bounded), then cut each block's cell list — sorted by
    cell id, i.e. spatially row-major — into contiguous chunks of ~equal
    PAIR count on the driver.  A dataset point's pairs all share its
    ds_cell, so they stay in one chunk (exactness invariant holds); only
    OSM points within max_distance of a 1-D cut line become shared.
    """
    if n_live <= cfg.salt_cap_pairs:  # no block can be above the cap
        return live
    # the oversized set is tiny — collect it once so it can (a) drive the
    # split and (b) be recorded as lineage evidence that the guard fired
    ov_rows = (
        live.groupBy("block").count()
        .where(F.col("count") > cfg.salt_cap_pairs).collect()
    )
    if not ov_rows:
        return live
    if stats is not None:
        stats.setdefault("salt_splits", []).extend(
            dict(round=0, block=int(r["block"]), n_pairs=int(r["count"]))
            for r in ov_rows
        )
    nsplit = 16
    ov_df = F.broadcast(
        spark.createDataFrame([(int(r["block"]),) for r in ov_rows], "block long")
    )
    cell_rows = (
        live.join(ov_df, "block", "left_semi")
        .groupBy("block", "ds_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_block: dict[int, list] = {}
    for r in cell_rows:
        per_block.setdefault(int(r["block"]), []).append(
            (int(r["ds_cell"]), int(r["n"]))
        )
    salt_rows = []
    for blk, cells in per_block.items():
        cells.sort()
        total = sum(n for _, n in cells)
        target = max(1, -(-total // nsplit))  # ceil
        acc, salt_i = 0, 0
        for c, n in cells:
            if acc + n > target and acc > 0 and salt_i < nsplit - 1:
                salt_i += 1
                acc = 0
            salt_rows.append((blk, c, salt_i))
            acc += n
    salt_df = F.broadcast(
        spark.createDataFrame(salt_rows, "block long, ds_cell long, salt long")
    )
    return (
        live.join(salt_df, ["block", "ds_cell"], "left")
        .withColumn(
            "block", F.col("block") * nsplit + F.coalesce(F.col("salt"), F.lit(0))
        )
        .drop("salt")
    )


def greedy_match(
    spark: SparkSession,
    pairs: DataFrame,
    cfg: ConflateConfig,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Prepared pairs -> exact greedy matched pairs (dataset_id, osm_pk,
    dist).

    Input: the :func:`prepare_pairs` table (dataset_id, osm_pk, dist,
    block, ds_cell), plus ``negw`` (-weight) when the U2 weight hook is
    set; typically checkpointed, since the count, the skew probe and
    round 0 each scan it.  Output: ``dataset_id`` and ``osm_pk`` are
    each unique and non-null (greedy is one-to-one), which
    ``build_changes`` relies on.

    ``stats`` (optional) receives rounds, live_per_round, groups,
    salt_splits and phase_wall.
    """
    import time as _time

    def _phase(name: str, t0: float) -> None:
        if stats is not None:
            pw = stats.setdefault("phase_wall", {})
            pw[name] = pw.get(name, 0.0) + (_time.monotonic() - t0)

    live = pairs
    if "negw" not in live.columns:  # U2 weight hook not installed
        live = live.withColumn("negw", F.lit(0.0))
    t0 = _time.monotonic()
    n_live = live.count()
    _phase("round_count", t0)
    t0 = _time.monotonic()
    live = _split_oversized(spark, live, n_live, cfg, stats).select(
        "dataset_id", "osm_pk", "dist", "negw", "block"
    )
    _phase("skew_probe", t0)

    matched_parts: list[DataFrame] = []
    live_per_round: list[int] = []
    # For rounds >= 1 the live count is the previous round's POST-kill
    # survivor count (one scan of that round's eager live checkpoint) —
    # exact for every round, and a fully-killed deferred set breaks out
    # at the bottom of the loop without paying an empty kernel round
    # (round-3 ADVICE #1).
    for _round in range(_MAX_MATCH_ROUNDS):
        if stats is not None:
            live_per_round.append(n_live)
            stats["live_per_round"] = live_per_round
            stats["rounds"] = len(live_per_round)
            stats["live_counts_note"] = "exact post-kill counts"
        if n_live == 0:
            break

        # One kernel invocation per PARTITION, not per block: a hash
        # partition is a union of whole blocks, so the invariant "all of
        # a dataset point's pairs are co-resident" still holds, and the
        # per-group applyInPandas overhead (huge for sparse-world blocks
        # with 1-2 pairs each) disappears.  'shared' is computed against
        # the PARTITION assignment (same murmur3+pmod Spark's
        # HashPartitioning uses), so only genuinely cross-kernel OSM
        # points defer.
        n_parts = int(max(16, min(2048, n_live // 100_000 + 1)))
        part_of_block = F.pmod(F.hash("block"), F.lit(n_parts))
        key = F.struct(
            F.col("negw"), F.col("dist"), F.col("dataset_id"), F.col("osm_pk")
        )
        # sub-phased (round-3 verdict: a 42 s wall in the fused
        # enrich+kernel+ckpt phase could not be attributed): the per-osm
        # stats agg is materialized on its own — its output is one slim
        # row per osm_pk (~tens of MB at sf0.1), so the extra checkpoint
        # is noise — which isolates (a) agg shuffle from (b) join +
        # repartition + python kernel + checkpoint write; kernel CPU is
        # separately known exactly from the 'L' lineage rows.
        t0 = _time.monotonic()
        # "appears in >1 kernel partitions" == min(part) != max(part) —
        # NOT countDistinct, whose partial-distinct expansion measured
        # ~2x the whole agg's cost on the sf0.1 pair table
        osm_stats = live.groupBy("osm_pk").agg(
            F.min(key).alias("osm_min"),
            F.min(part_of_block).alias("pmin"),
            F.max(part_of_block).alias("pmax"),
        ).localCheckpoint(eager=True)
        _phase("osm_stats_agg", t0)
        enriched = live.join(osm_stats, "osm_pk").select(
            "dataset_id",
            "osm_pk",
            "dist",
            "negw",
            "block",
            (F.col("pmin") != F.col("pmax")).alias("shared"),
            (key == F.col("osm_min")).alias("is_gmin"),
        )

        def _kernel_iter(batches):
            pdfs = list(batches)
            if not pdfs:
                return
            yield _greedy_kernel(pd.concat(pdfs, ignore_index=True))

        t0 = _time.monotonic()
        result = enriched.repartition(n_parts, "block").mapInPandas(
            _kernel_iter, _KERNEL_SCHEMA
        )
        result = result.localCheckpoint(eager=True)
        _phase("join_kernel_ckpt", t0)
        t0 = _time.monotonic()
        if stats is not None:
            stats.setdefault("groups", []).extend(
                dict(block=r["block"], n_in=int(r["dataset_id"]),
                     n_matched=int(r["osm_pk"]), wall_ms=r["dist"], round=_round)
                for r in result.where(F.col("status") == "L").collect()
            )
        _phase("stats_collect", t0)
        matched_new = result.where(F.col("status") == "M").drop(
            "status", "block", "negw"
        )
        matched_parts.append(matched_new)

        deferred = result.where(F.col("status") == "D").drop("status")
        # Kill deferred pairs whose OSM endpoint was consumed in OTHER
        # blocks (in-block kills already happened inside the kernel),
        # materialize the survivors ONCE, and count them off the
        # checkpoint.  The eager localCheckpoint means the anti-join
        # shuffle executes exactly once per round no matter how many
        # consumers follow (count here; next round's osm-stats agg AND
        # enrich join; or the driver-finish toPandas) — the round-4
        # shape lazily re-derived it per consumer and reported PRE-kill
        # counts, so a fully-killed deferred set cost one empty kernel
        # round of shuffle jobs (round-3 ADVICE #1).
        t0 = _time.monotonic()
        live = deferred.join(
            matched_new.select("osm_pk"), "osm_pk", "left_anti"
        ).localCheckpoint(eager=True)
        n_live = live.count()  # one scan of the fresh checkpoint
        _phase("live_kill_count", t0)
        if n_live == 0:
            break
        if n_live <= _DRIVER_FINISH_MAX:
            # Finish on the driver: the post-kill survivor set is small
            # and already checkpointed, so this is one checkpoint scan —
            # no wide shuffle, no double execution.
            t0 = _time.monotonic()
            rest = live.select(
                "dataset_id", "osm_pk", "dist", "negw"
            ).toPandas()
            if stats is not None:
                live_per_round.append(int(len(rest)))
                stats["live_per_round"] = live_per_round
                stats["rounds"] = len(live_per_round)
            done = _local_greedy_finish(rest)
            if len(done):
                matched_parts.append(
                    spark.createDataFrame(
                        done,
                        "dataset_id string, osm_pk string, dist double",
                    )
                )
            _phase("driver_finish", t0)
            break
    else:
        raise RuntimeError(
            f"greedy_match: {n_live} live pairs remain after "
            f"{_MAX_MATCH_ROUNDS} rounds"
        )

    if not matched_parts:
        return spark.createDataFrame([], _KERNEL_SCHEMA).drop(
            "status", "block", "negw"
        )
    out = matched_parts[0]
    for part in matched_parts[1:]:
        out = out.unionByName(part)
    return out
