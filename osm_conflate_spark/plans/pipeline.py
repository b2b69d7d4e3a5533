"""E1 — the end-to-end conflation pipeline (SURVEY §4).

Stage DAG (each DataFrame-in/DataFrame-out, checkpointable via
StageRunner):

  dataset:  D1 ref-dedup -> F5 normalize -> F2 transform -> F3 categories
            -> D2 spatial dedup
  osm:      F1 query filter -> osm_pk
  J1 candidate cell join -> audit skip -> J2 exact greedy match
  -> changes (X2/X3/X4, J4/J5/J6) -> osc rows X5 / geojson X6
  -> tiles X8 -> metrics A1 + lineage

Physical shape at scale: three shuffles dominate — the cell equi-join,
the per-osm min aggregation, and the kernel groupBy; anti/semi joins
reuse AQE-planned exchanges; the audit table is always broadcast.
"""

from __future__ import annotations

import functools
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ConflateConfig
from ..functions import tags as tagfns
from ..operators import changes as chg
from ..operators.candidates import candidate_pairs, with_osm_pk
from ..operators.dedup import ref_dedup, spatial_dedup
from ..operators.match import apply_match_predicate, greedy_match, prepare_pairs
from .lineage import StageRunner, config_hash, input_fingerprint


class ConflatePipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: ConflateConfig | None = None,
        out_dir: str | None = None,
        resume: bool = True,
    ):
        self.spark = spark
        self.cfg = cfg or ConflateConfig()
        self.runner = StageRunner(
            spark, out_dir=out_dir, cfg_hash=config_hash(self.cfg), resume=resume
        )
        #: greedy_match stats of the last match (empty when it was resumed)
        self.last_match_stats: dict = {}

    # -- individual stages --------------------------------------------------

    def prepare_dataset(self, ds: DataFrame) -> DataFrame:
        cfg = self.cfg
        if "url" in ds.columns:
            ds = ref_dedup(ds, "url")
        else:
            ds = ref_dedup(ds.withColumn("_ord", F.col("id")), "_ord").drop("_ord")
        ds = ds.withColumn("tags", tagfns.normalize_tags("tags"))
        ds = tagfns.apply_transform(ds, "tags", cfg)
        if "category" in ds.columns:
            ds = tagfns.apply_categories(ds, "tags", cfg)
        # materialize BEFORE the dedup self-join: the extracted+deduped
        # frame feeds the self-join, the post-dedup anti-join, and every
        # downstream stage — without this the extractor runs 2-3x
        ds = ds.localCheckpoint(eager=True)
        return spatial_dedup(ds, cfg)

    def prepare_osm(self, osm: DataFrame) -> DataFrame:
        osm = osm.where(tagfns.query_filter_col("tags", self.cfg))
        return with_osm_pk(osm)

    def match(
        self,
        ds: DataFrame,
        osm_pk_df: DataFrame,
        audit: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Returns (matched_pairs, vicinity), both from one pair table."""
        self.last_match_stats = {}
        pairs = self.prepared_pairs(ds, osm_pk_df)
        return self.match_pairs(pairs, ds, osm_pk_df, audit), _vicinity(pairs)

    def prepared_pairs(self, ds: DataFrame, osm_pk_df: DataFrame) -> DataFrame:
        """J1 candidates -> the prepared pair table (dataset_id, osm_pk,
        dist, block, ds_cell), eagerly checkpointed: the ONE
        materialization that serves the vicinity set, the audit skip and
        the matcher."""
        t0 = time.monotonic()
        pairs = candidate_pairs(ds, osm_pk_df, self.cfg)
        pairs = prepare_pairs(pairs, self.cfg).localCheckpoint(eager=True)
        self.last_match_stats.setdefault("phase_wall", {})["prepare_pairs"] = (
            time.monotonic() - t0
        )
        return pairs

    def match_pairs(
        self,
        pairs: DataFrame,
        ds: DataFrame,
        osm_pk_df: DataFrame,
        audit: DataFrame | None = None,
    ) -> DataFrame:
        """Prepared pair table -> exact greedy matched pairs, after the J3
        predicate veto, the U2 weights and the J6 audit skip."""
        if self.cfg.matches is not None:
            pairs = apply_match_predicate(pairs, ds, osm_pk_df, self.cfg)
        if self.cfg.weight is not None:
            # U2 — per-dataset-point priority: greedy order key becomes
            # (-weight, dist, id, pk).  Arrow-batched hook over tags,
            # one value per dataset point, joined onto the slim pairs.
            fn = self.cfg.weight

            @F.pandas_udf("double")
            def _negw(tags: pd.Series) -> pd.Series:
                return pd.Series(
                    [-float(fn(t if t is not None else {})) for t in tags]
                )

            wdf = ds.select(
                F.col("id").alias("dataset_id"), _negw("tags").alias("negw")
            )
            pairs = pairs.join(wdf, "dataset_id")
        if audit is not None:
            skips = F.broadcast(
                audit.where(F.col("skip")).select(F.col("dataset_id"))
            )
            pairs = pairs.join(skips, "dataset_id", "left_anti")
        stats = self.last_match_stats
        matched = greedy_match(self.spark, pairs, self.cfg, stats=stats)
        for g in stats.get("groups", []):
            self.runner.lineage.append(
                dict(stage="match_kernel", group_id=g["block"], n_in=g["n_in"],
                     n_out=g["n_matched"], wall_ms=g["wall_ms"], resumed=False)
            )
        # skew-guard evidence: which blocks exceeded salt_cap_pairs and
        # were range-cut (n_in = the pre-split pair count)
        for srec in stats.get("salt_splits", []):
            self.runner.lineage.append(
                dict(stage="salt_split", group_id=srec["block"],
                     n_in=srec["n_pairs"], n_out=-1, wall_ms=0.0,
                     resumed=False)
            )
        return matched

    # -- full run -------------------------------------------------------------

    def run(
        self,
        ds_raw: DataFrame,
        osm_raw: DataFrame,
        audit: DataFrame | None = None,
    ) -> dict:
        r = self.runner
        self.last_match_stats = {}
        # resume cache keys on (config hash, INPUT fingerprint): changing
        # the input paths invalidates stale stage parquet (ADVICE round 1)
        r.input_sig = input_fingerprint(ds_raw, osm_raw)
        ds = r.run("dataset_prep", lambda: self.prepare_dataset(ds_raw))
        osm = r.run("osm_prep", lambda: self.prepare_osm(osm_raw))
        if not r.out_dir:
            # osm feeds 3+ downstream branches; ds is already materialized
            # inside prepare_dataset (pre-dedup checkpoint) and only the
            # cheap anti-join re-runs per branch
            osm = osm.localCheckpoint(eager=True)
        # built on first use, at most once: a stage restored from its
        # checkpoint never asks, so a full resume runs no candidate join
        pairs = functools.cache(lambda: self.prepared_pairs(ds, osm))
        matched = r.run(
            "match", lambda: self.match_pairs(pairs(), ds, osm, audit)
        )
        changes = r.run(
            "changes",
            lambda: chg.build_changes(
                matched, ds, osm, _vicinity(pairs()), self.cfg, audit
            ),
        )
        tiles = r.run("tiles", lambda: chg.tiles(ds, self.cfg))
        metrics = changes.groupBy("action").count()
        return dict(
            dataset=ds,
            osm=osm,
            matched=matched,
            changes=changes,
            tiles=tiles,
            metrics=metrics,
            osc=chg.osc_rows(
                changes,
                osm if {"nds", "members"} <= set(osm.columns) else None,
            ),
            geojson=chg.geojson_rows(changes),
            lineage=r.lineage_df,
        )


def _vicinity(pairs: DataFrame) -> DataFrame:
    """J5 vicinity: the OSM points within the match radius of some
    dataset point — from the RAW radius pairs, before the J3 predicate
    veto, matching the reference."""
    return pairs.select("osm_pk").distinct()


_TMPFS_MIN_FREE_BYTES = 8 << 30  # shuffle spill needs real headroom


def _tmpfs_has_headroom(path: str, min_free: int = _TMPFS_MIN_FREE_BYTES) -> bool:
    import os

    if not os.path.isdir(path):
        return False
    try:
        st = os.statvfs(path)
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= min_free


def _half_physical_memory() -> str:
    """Default driver heap: half the machine's physical memory, in whole
    GB (at least 1g)."""
    import os

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def build_session(
    app: str = "osm-conflate-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Opinionated local session: AQE on, Arrow on, sane local shuffle
    width.  On a real cluster, spark-submit conf wins — we only set
    semantics-relevant options.  Sized from the machine by default: all
    cores (``local[*]``) and half the physical memory as driver heap;
    ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` override either."""
    import os

    # executor python workers inherit PYTHONPATH from the JVM process env,
    # NOT the driver's sys.path — make the package importable for them
    # (spark-submit users pass --py-files instead; this covers library use)
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pp if pp else "")
        )

    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        b = b.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # local/bench runs: put shuffle + block spill on tmpfs when present —
    # a real cluster has node-local NVMe per executor; a single box's one
    # virtual disk otherwise serializes all executors' shuffle writes
    # (measured: the 8-executor leg loses ~2x at 6M pages on /tmp).
    # Only opted into when /dev/shm actually has headroom (containers
    # often mount it at 64MB — writing shuffle there fails with ENOSPC);
    # harmless opt-out via SPARK_LOCAL_DIRS; never set on a real cluster
    # (spark-submit conf wins there).
    if (
        "SPARK_LOCAL_DIRS" not in os.environ
        and not os.environ.get("SPARK_MASTER")
        and _tmpfs_has_headroom("/dev/shm")
    ):
        b = b.config("spark.local.dir", "/dev/shm/spark-graft-local")
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # guide §3.1/§9: allow shuffled-hash join where its size checks
        # pass instead of always sort-merge — the candidate cell join
        # sorts a 54M-row exploded side at 6M pages under SMJ; SHJ
        # builds the smaller per-partition side and skips both sorts.
        # Size guards (per-partition build < broadcast threshold x
        # shuffle width) keep it safe at cluster scale, where AQE
        # re-plans from runtime stats anyway.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # InferFiltersFromGenerate duplicates the generator expression
        # of every outer=false explode into a Filter (size(e)>0 AND
        # isnotnull(e)) that predicate pushdown then drags below the
        # scan-side exchange — for the text operators the generator IS
        # the expensive tokenize/shingle expression, so each row paid
        # it 2-3x (and on the narrow scan stage at that; measured
        # segment_dedup 5.5 s -> 2.3 s warm at sf1.0 without the rule).
        # Result-neutral: explode of an empty/null array emits no rows
        # with or without the inferred filter.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Back to Spark's default 10m (was 64m since round 2): with
        # preferSortMergeJoin=false the alternative to a big broadcast is
        # a shuffled-hash join, not a sort — and rebuilding a 1.5M-row
        # (~100MB) HashedRelation per query invocation measured BOTH
        # slower and wildly unstable under driver GC churn
        # (candidate_pairs at sf1.0: 3.0-18.2 s under 64m vs 2.7-4.4 s
        # under 10m; ngram/distance/minhash/tile_hotspots all equal or
        # better, none worse).  Genuinely small sides (PSL rules, eval
        # shingles, centroids, audit) still broadcast; explicit
        # F.broadcast() hints are unaffected by the threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _half_physical_memory(),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
