"""Output check of one timed job against the oracle's expected value."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from .oracle import CHANGE_COLS, change_digest
from .workloads import Inputs, JobResult

#: stages a resumed ConflatePipeline.run restores from its checkpoints
STAGES = 5


def _rows(records) -> list[tuple]:
    return [tuple(r[c] for c in CHANGE_COLS) for r in records]


def _parquet_rows(path: str) -> list[tuple]:
    return _rows(pq.read_table(path).to_pylist())


def check_job(job: JobResult, inp: Inputs, exp: dict) -> list[str]:
    """Problems found in the job's outputs (empty when correct)."""
    problems: list[str] = []
    if inp.workload == "checkpoint_resume":
        matched = pq.read_table(os.path.join(job.out_dir, "match")).to_pandas()
        digests = {
            "cold": change_digest(
                _parquet_rows(os.path.join(job.out_dir, "changes_out"))),
            "resumed": change_digest(
                _parquet_rows(os.path.join(job.out_dir, "resumed", "changes_out"))),
        }
        n_deduped = pq.read_table(
            os.path.join(job.out_dir, "tiles_out")).num_rows
        if job.stages_resumed != STAGES:
            problems.append(
                f"resume restored {job.stages_resumed} of {STAGES} stages")
    else:
        matched = job.res["matched"].toPandas()
        changes = job.res["changes"].toPandas()
        digests = {"changes": change_digest(_rows(changes.to_dict("records")))}
        n_deduped = job.n_tiles

    for col in ("dataset_id", "osm_pk"):
        if matched[col].isna().any():
            problems.append(f"matched {col} has nulls")
        if matched[col].duplicated().any():
            problems.append(f"matched {col} is not unique")
    if len(matched) and matched["dist"].max() > inp.cfg.max_distance:
        problems.append("a match is farther than max_distance")
    if len(matched) != exp["n_matched"]:
        problems.append(f"{len(matched)} matches, expected {exp['n_matched']}")
    if job.actions.get("modify", 0) + job.actions.get("create", 0) != n_deduped:
        problems.append("modify + create != deduped point count")
    if n_deduped != exp["n_deduped"]:
        problems.append(f"{n_deduped} deduped points, expected {exp['n_deduped']}")
    if job.actions != exp["actions"]:
        problems.append(f"actions {job.actions}, expected {exp['actions']}")
    for name, d in digests.items():
        if d != exp["digest"]:
            problems.append(f"{name} change digest {d}, expected {exp['digest']}")
    splits = len(job.match_stats.get("salt_splits", []))
    if (splits > 0) != (inp.workload == "dense_block"):
        problems.append(f"{splits} salt splits on {inp.workload}")
    return problems


def traced_problems(traced: dict, inp: Inputs, exp: dict) -> list[str]:
    """The traced run's change set must equal the untraced one's."""
    problems = []
    rows = _rows(traced["changes"].toPandas().to_dict("records"))
    if change_digest(rows) != exp["digest"]:
        problems.append("traced change digest differs from the oracle")
    splits = traced["extras"]["operators.match.salt_splits"]
    if (splits > 0) != (inp.workload == "dense_block"):
        problems.append(f"{splits} salt splits on {inp.workload}")
    resumed = traced["extras"]["plans.lineage.stages_resumed"]
    if inp.workload == "checkpoint_resume" and resumed != STAGES:
        problems.append(f"traced resume restored {resumed} of {STAGES} stages")
    return problems
