"""Benchmark inputs and the jobs that consume them.

Inputs come from ``osm_conflate_spark.gen`` driven by the run's seed and
are written as parquet with pyarrow, so the program under test receives
only files.  Each workload has a timed job that goes through the public
API the CLI uses: ``from_pages`` / ``read_input``, ``ConflatePipeline``
and its outputs.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osm_conflate_spark import config, gen, reference_model
from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.functions import geo, sqlgen
from osm_conflate_spark.functions.geo import cell_np
from osm_conflate_spark.functions.sqlgen import CELL_SHIFT, M_PER_DEG
from osm_conflate_spark.gen import gen_dataset, gen_osm, gen_pages, parse_tags_raw
from osm_conflate_spark.sources import extract

#: page / point count of a full-size run
FULL_N = 20_000
#: page / point count of the warm-up job and of the self-test
TOY_N = 300
#: share of dense_block's dataset points packed into one square
DENSE_SHARE = 0.4
#: side of dense_block's square, in meters
DENSE_SIDE_M = 2000.0
#: input files per table, so the scans run as several tasks
N_FILES = 8


@dataclasses.dataclass(frozen=True)
class Inputs:
    """One generated input set: its parquet paths and the profile the
    workload runs."""

    workload: str
    n: int
    seed: int
    root: str
    cfg: ConflateConfig

    @property
    def name(self) -> str:
        return f"{self.workload}-{self.n}-{self.seed}"

    @property
    def osm(self) -> str:
        return os.path.join(self.root, "osm")

    @property
    def pages(self) -> str:
        return os.path.join(self.root, "pages")

    @property
    def dataset(self) -> str:
        return os.path.join(self.root, "dataset")

    @property
    def reads_pages(self) -> bool:
        return self.workload != "checkpoint_resume"


def dense_n(n: int) -> int:
    return int(n * DENSE_SHARE)


def config_for(workload: str, n: int) -> ConflateConfig:
    """dense_block scales ``salt_cap_pairs`` with its square: the square
    holds ~0.0057 * dense_n^2 in-radius pairs, so a cap of dense_n^2/512
    is exceeded about threefold at every size and the range-cut split
    fires.  The shipped cap (1M) would need ~1.3M pairs in one block,
    which doubles the job and does not fit the run budget.  The other
    workloads run the default profile."""
    if workload == "dense_block":
        return ConflateConfig(salt_cap_pairs=max(16, dense_n(n) ** 2 // 512))
    return ConflateConfig()


def cache_key(cfg: ConflateConfig) -> str:
    """Digest of what the generated inputs and the oracle's result depend
    on besides (workload, size, seed): the profile's field values and the
    source of the modules that generate, parse and judge them.  Cached
    inputs and results made by other code are never reused."""
    h = hashlib.sha256()
    for f in dataclasses.fields(cfg):
        v = getattr(cfg, f.name)
        if isinstance(v, (set, frozenset)):
            v = sorted(v)  # a set's repr order follows PYTHONHASHSEED
        h.update(f"{f.name}={v!r}\n".encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for path in (config.__file__, gen.__file__, geo.__file__, sqlgen.__file__,
                 extract.__file__, reference_model.__file__,
                 os.path.join(here, "workloads.py"),
                 os.path.join(here, "oracle.py")):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _block_of(lat, lon, cfg: ConflateConfig):
    cell = cell_np(lat, lon, cfg.cell_m)
    b = cfg.block_cells
    return (cell // CELL_SHIFT) // b * CELL_SHIFT + (cell % CELL_SHIFT) // b


def _square(clat: float, clon: float):
    """Corners and edge midpoints of dense_block's square around a centre."""
    half_lat = DENSE_SIDE_M / 2 / M_PER_DEG
    half_lon = half_lat / np.cos(np.radians(clat))
    lat = [clat + a * half_lat for a in (-1, 0, 1) for _ in (-1, 0, 1)]
    lon = [clon + b * half_lon for _ in (-1, 0, 1) for b in (-1, 0, 1)]
    return lat, lon, half_lat, half_lon


def dense_square_center(cfg: ConflateConfig) -> tuple[float, float]:
    """A centre near (1.29, 103.85) whose square lies in ONE
    kernel super-block.  Near the equator a block's columns barely shift
    from band to band, so such a centre exists."""
    step = cfg.cell_m / M_PER_DEG
    offsets = sorted(
        ((i, j) for i in range(-cfg.block_cells, cfg.block_cells + 1)
         for j in range(-cfg.block_cells, cfg.block_cells + 1)),
        key=lambda ij: (ij[0] ** 2 + ij[1] ** 2, ij),
    )
    for i, j in offsets:
        clat, clon = 1.29 + i * step, 103.85 + j * step
        lat, lon, _, _ = _square(clat, clon)
        if len(set(_block_of(lat, lon, cfg).tolist())) == 1:
            return clat, clon
    raise RuntimeError("no single-block centre for the dense square")


def gen_frames(workload: str, n: int, seed: int, cfg: ConflateConfig):
    """(dataset points, osm points) pandas frames for one workload."""
    ds = gen_dataset(n, seed=seed)
    if workload == "dense_block":
        k = dense_n(n)
        clat, clon = dense_square_center(cfg)
        _, _, half_lat, half_lon = _square(clat, clon)
        rng = np.random.default_rng([seed, 1])
        ds.loc[: k - 1, "lat"] = clat + rng.uniform(-1, 1, k) * half_lat
        ds.loc[: k - 1, "lon"] = clon + rng.uniform(-1, 1, k) * half_lon
    osm = gen_osm(ds, seed=seed + 1).drop(columns=["kind"])
    return ds, osm


def _write_parts(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        pq.write_table(
            part, os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",
        )


def _tags_map(tags_raw: pd.Series) -> pa.Array:
    return pa.array(
        [list(parse_tags_raw(s).items()) for s in tags_raw],
        type=pa.map_(pa.string(), pa.string()),
    )


def make_inputs(work: str, workload: str, n: int, seed: int) -> Inputs:
    """Generate (once per workload, size, seed and cache key) the parquet
    inputs."""
    cfg = config_for(workload, n)
    root = os.path.join(work, "inputs", f"{workload}-{n}-{seed}-{cache_key(cfg)}")
    inp = Inputs(workload, n, seed, root, cfg)
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return inp
    # keep one input set per (workload, size) so the work dir stays small
    parent = os.path.dirname(root)
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith(f"{workload}-{n}-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    ds, osm = gen_frames(workload, n, seed, cfg)
    _write_parts(pa.Table.from_pandas(osm, preserve_index=False), inp.osm)
    if inp.reads_pages:
        pages = gen_pages(ds, seed=seed)[["url", "warc_ts", "html", "lang"]]
        _write_parts(pa.Table.from_pandas(pages, preserve_index=False), inp.pages)
    else:
        _write_parts(
            pa.table(
                {
                    "id": pa.array(ds["id"], pa.string()),
                    "lat": pa.array(ds["lat"], pa.float64()),
                    "lon": pa.array(ds["lon"], pa.float64()),
                    "tags": _tags_map(ds["tags_raw"]),
                    "category": pa.nulls(len(ds), pa.string()),
                    "remarks": pa.nulls(len(ds), pa.string()),
                    "url": pa.array(ds["url"], pa.string()),
                }
            ),
            inp.dataset,
        )
    open(done, "w").close()
    return inp


# ---------------------------------------------------------------------------
# jobs
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class JobResult:
    wall_s: float
    actions: dict
    res: dict  # ConflatePipeline.run() result of the (last) run
    match_stats: dict  # greedy_match stats of the run that matched
    resume_s: float = 0.0
    cold_s: float = 0.0
    out_dir: str | None = None
    stages_resumed: int = 0
    persisted_rdds: int = 0
    n_tiles: int = 0


def read_osm(spark, path: str):
    """The OSM side exactly as the CLI reads it."""
    from pyspark.sql import functions as F

    from osm_conflate_spark.sources.extract import poi_tags_map_sql

    return (
        spark.read.parquet(path)
        .withColumn("tags", F.expr(poi_tags_map_sql("tags_raw")))
        .drop("tags_raw")
    )


def read_dataset(spark, inp: Inputs):
    from osm_conflate_spark.sources.catalog import read_input
    from osm_conflate_spark.sources.dataset import from_pages

    if inp.reads_pages:
        return from_pages(read_input(spark, inp.pages))
    return read_input(spark, inp.dataset)


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def run_pages_job(spark, inp: Inputs) -> JobResult:
    """pages -> ConflatePipeline.run -> metrics collect + tiles count."""
    from osm_conflate_spark.plans.pipeline import ConflatePipeline

    t0 = time.monotonic()
    pipe = ConflatePipeline(spark, inp.cfg)
    res = pipe.run(read_dataset(spark, inp), read_osm(spark, inp.osm))
    actions = {r["action"]: r["count"] for r in res["metrics"].collect()}
    n_tiles = res["tiles"].count()
    wall = time.monotonic() - t0
    return JobResult(wall, actions, res, pipe.last_match_stats, cold_s=wall,
                     persisted_rdds=persisted_rdds(spark), n_tiles=n_tiles)


def _cli_run(spark, inp: Inputs, out_dir: str, resume: bool, outputs: str):
    """One ``conflate-spark --dataset ... --out ...`` run, in process."""
    from osm_conflate_spark.plans.pipeline import ConflatePipeline

    pipe = ConflatePipeline(spark, inp.cfg, out_dir=out_dir, resume=resume)
    res = pipe.run(read_dataset(spark, inp), read_osm(spark, inp.osm))
    for name in ("changes", "tiles", "osc", "geojson"):
        res[name].write.mode("overwrite").parquet(f"{outputs}/{name}_out")
    actions = {r["action"]: r["count"] for r in res["metrics"].collect()}
    res["lineage"]().write.mode("overwrite").parquet(f"{outputs}/lineage_out")
    return pipe, res, actions


def run_checkpoint_job(spark, inp: Inputs, out_dir: str) -> JobResult:
    """A checkpointed cold run that writes every output, then the same
    job resumed in the same process.  ``wall_s`` covers both."""
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.monotonic()
    cold, _, _ = _cli_run(spark, inp, out_dir, resume=False, outputs=out_dir)
    t1 = time.monotonic()
    pipe, res, actions = _cli_run(
        spark, inp, out_dir, resume=True,
        outputs=os.path.join(out_dir, "resumed"),
    )
    t2 = time.monotonic()
    resumed = sum(1 for r in pipe.runner.lineage if r.get("resumed"))
    return JobResult(
        t2 - t0, actions, res, cold.last_match_stats, resume_s=t2 - t1,
        cold_s=t1 - t0,
        out_dir=out_dir, stages_resumed=resumed,
        persisted_rdds=persisted_rdds(spark),
    )


def run_job(spark, inp: Inputs, work: str) -> JobResult:
    if inp.workload == "checkpoint_resume":
        return run_checkpoint_job(spark, inp, os.path.join(work, "ckpt"))
    return run_pages_job(spark, inp)


def release(spark) -> None:
    """Run hygiene between jobs: unpersist every persistent RDD and force
    a JVM GC so the context cleaner drops the previous job's shuffle
    files (what ``bench.py`` does after each pipeline run)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()
