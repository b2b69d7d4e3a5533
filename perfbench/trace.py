"""The traced run: each layer's public entry point is called from
outside, in pipeline order, under ``sc.setJobGroup(<layer>)``, and its
output is materialized (eager ``localCheckpoint``) before the next layer
starts.  Spans are kept in memory and written out when the run ends;
per-layer counters come from the status tracker and the status store.
Nothing inside ``osm_conflate_spark`` is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from py4j.protocol import Py4JJavaError

from .workloads import Inputs, read_dataset, read_osm

#: layers, named after the modules whose public functions they time
LAYERS = (
    "sources.extract",
    "operators.dedup",
    "functions.tags",
    "operators.candidates",
    "operators.match",
    "operators.changes",
    "plans.lineage",
    "plans.pipeline",
)
#: counters every layer reports
COMMON = ("wall_s", "task_s", "jobs", "tasks", "failed_tasks",
          "shuffle_write_bytes", "spill_bytes", "task_skew", "rows_out")
#: job group of the benchmark's own bookkeeping actions (row counts)
BOOKKEEPING = "perfbench.bookkeeping"


class Tracer:
    """Spans (name, start, end, parent, run id) plus job-group switching."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        group = group or (parent["group"] if parent else name)
        rec = dict(name=name, group=group, run_id=self.run_id,
                   span_id=len(self.spans),
                   parent_id=parent["span_id"] if parent else None,
                   start=time.monotonic(), end=None)
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def layer(self, name: str):
        return self.span(name, group=name)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, span: dict) -> float:
        """Duration minus the (sequential) child spans it contains."""
        kids = [s for s in self.spans if s["parent_id"] == span["span_id"]]
        return (span["end"] - span["start"]) - sum(s["end"] - s["start"] for s in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def group_counters(sc, group: str) -> dict:
    """Jobs, tasks, run time, shuffle, spill and task skew of the jobs
    that ran under one job group."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(jobs=len(jobs), tasks=0, failed_tasks=0, task_s=0.0,
               shuffle_write_bytes=0, spill_bytes=0, task_skew=0.0)
    task_ms: list[float] = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                task_ms.append(float(m.get().executorRunTime()))
    if task_ms:
        med = statistics.median(task_ms)
        out["task_skew"] = max(task_ms) / med if med > 0 else 1.0
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def traced_run(spark, inp: Inputs, work: str, run_id: str) -> tuple[Tracer, dict]:
    """One traced pass over the workload's layers; returns the tracer and
    the rows out, layer-specific extras and change set it produced."""
    from pyspark.sql import functions as F

    from osm_conflate_spark.operators import changes as chg
    from osm_conflate_spark.operators.candidates import candidate_pairs
    from osm_conflate_spark.operators.match import greedy_match, prepare_pairs
    from osm_conflate_spark.plans.lineage import StageRunner, config_hash
    from osm_conflate_spark.plans.pipeline import ConflatePipeline

    sc = spark.sparkContext
    cfg = inp.cfg
    tr = Tracer(sc, run_id)
    rows: dict[str, int] = {}
    ex: dict[str, float] = {}
    ckpt = inp.workload == "checkpoint_resume"
    out_dir = os.path.join(work, "trace-ckpt")
    if ckpt:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    # ConflatePipeline routes every stage through a StageRunner, which
    # writes and re-reads it only when there is an out_dir
    runner = StageRunner(spark, out_dir=out_dir if ckpt else None,
                         cfg_hash=config_hash(cfg), resume=False)
    pipe = ConflatePipeline(spark, cfg)

    def mat(df):
        return df.localCheckpoint(eager=True)

    def count(layer: str | None, df) -> int:
        with tr.span("perfbench.count", group=BOOKKEEPING):
            n = df.count()
        if layer is not None:
            rows[layer] = rows.get(layer, 0) + n
        return n

    def stage(name: str, df):
        with tr.layer("plans.lineage"):
            return runner.run(name, lambda: df)

    with tr.span("plans.pipeline", group="plans.pipeline") as root:
        with tr.layer("sources.extract"):
            ds_raw = mat(read_dataset(spark, inp))
        n_raw = count("sources.extract", ds_raw)
        with tr.layer("operators.dedup"):
            ds = mat(pipe.prepare_dataset(ds_raw))
        n_ids = count(None, ds_raw.select("id").distinct())
        n_ds = count("operators.dedup", ds)
        ex["operators.dedup.dropped_ref"] = n_raw - n_ids
        ex["operators.dedup.dropped_spatial"] = n_ids - n_ds
        ds = stage("dataset_prep", ds)
        with tr.layer("functions.tags"):
            osm = mat(pipe.prepare_osm(read_osm(spark, inp.osm)))
        count("functions.tags", osm)
        osm = stage("osm_prep", osm)
        with tr.layer("operators.candidates"):
            pairs = mat(candidate_pairs(ds, osm, cfg))
        n_cand = count("operators.candidates", pairs)
        ex["operators.candidates.pairs"] = n_cand
        ex["operators.candidates.pairs_per_point"] = n_cand / max(1, n_ds)
        stats: dict = {}
        with tr.layer("operators.match"):
            prepared = mat(prepare_pairs(pairs, cfg))
            vicinity = mat(prepared.select("osm_pk").distinct())
            matched = mat(greedy_match(spark, prepared, cfg, stats=stats))
        n_pairs = count(None, prepared)
        n_matched = count("operators.match", matched)
        ex.update(match_extras(stats, n_pairs, n_matched))
        matched = stage("match", matched)
        with tr.layer("operators.changes"):
            changes = mat(chg.build_changes(matched, ds, osm, vicinity, cfg))
            with tr.span("operators.changes.tiles"):
                tiles = mat(chg.tiles(ds, cfg))
            changes.groupBy("action").count().collect()
            if ckpt:
                with tr.span("operators.changes.osc"):
                    osc = mat(chg.osc_rows(changes))
                with tr.span("operators.changes.geojson"):
                    mat(chg.geojson_rows(changes))
        count("operators.changes", changes)
        ex["operators.changes.tiles_s"] = tr.wall("operators.changes.tiles")
        ex["operators.changes.osc_s"] = tr.wall("operators.changes.osc")
        ex["operators.changes.geojson_s"] = tr.wall("operators.changes.geojson")
        ex["operators.changes.osc_bytes"] = 0
        if ckpt:
            with tr.span("perfbench.count", group=BOOKKEEPING):
                ex["operators.changes.osc_bytes"] = osc.agg(
                    F.sum(F.length("xml"))
                ).first()[0] or 0
        stage("changes", changes)
        stage("tiles", tiles)
        ex["plans.lineage.write_s"] = tr.wall("plans.lineage")
        ex["plans.lineage.bytes_written"] = _dir_bytes(out_dir) if ckpt else 0
        ex["plans.lineage.stages_resumed"] = 0
        if ckpt:
            reader = StageRunner(spark, out_dir=out_dir, cfg_hash=runner.cfg_hash,
                                 resume=True)

            def missing():
                raise RuntimeError("stage checkpoint was not restored")

            for name in ("dataset_prep", "osm_prep", "match", "changes", "tiles"):
                with tr.layer("plans.lineage"):
                    rows["plans.lineage"] = rows.get("plans.lineage", 0) + (
                        reader.run(name, missing).count()
                    )
            ex["plans.lineage.stages_resumed"] = sum(
                1 for r in reader.lineage if r["resumed"]
            )
    ex["plans.lineage.read_s"] = (
        tr.wall("plans.lineage") - ex["plans.lineage.write_s"]
    )
    rows["plans.pipeline"] = rows["operators.changes"]
    ex["plans.pipeline.self_s"] = tr.self_time(root)
    return tr, dict(rows=rows, extras=ex, changes=changes)


def match_extras(stats: dict, n_pairs: int, n_matched: int) -> dict:
    """Counts read from greedy_match's public ``stats=`` dict."""
    groups = stats.get("groups", [])
    live = stats.get("live_per_round", [])
    round0 = sum(g["n_matched"] for g in groups if g.get("round") == 0)
    ms = [g["wall_ms"] for g in groups]
    return {
        "operators.match.rounds": stats.get("rounds", 0),
        "operators.match.deferred_pairs": sum(live[1:]),
        "operators.match.round0_commit_ratio": round0 / max(1, n_matched),
        "operators.match.salt_splits": len(stats.get("salt_splits", [])),
        "operators.match.max_kernel_pairs": max(
            (g["n_in"] for g in groups), default=0
        ),
        "operators.match.kernel_cpu_s": sum(ms) / 1000.0,
        "operators.match.kernel_max_s": max(ms, default=0.0) / 1000.0,
        "operators.match.match_yield": n_matched / max(1, n_pairs),
    }


def layer_metrics(spark, tr: Tracer, traced: dict) -> dict:
    """The per-layer metric set: the common counters of every layer plus
    each layer's extras."""
    sc = spark.sparkContext
    out: dict[str, float] = {}
    for layer in LAYERS:
        c = group_counters(sc, layer)
        c["wall_s"] = tr.wall(layer)
        c["rows_out"] = traced["rows"].get(layer, 0)
        for k in COMMON:
            out[f"{layer}.{k}"] = c[k]
    out.update(traced["extras"])
    return out
