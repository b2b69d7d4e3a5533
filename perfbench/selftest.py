"""Benchmark self-test at toy size (~300 points); about four minutes.

    python3 perfbench/selftest.py

Checks that the grid search of the oracle finds exactly the pairs a
brute-force scan finds; then, for every workload and both trace modes,
runs ``run.py`` at toy size and checks that every named metric is
printed with its unit (as listed in ``BENCHMARK.json``), that the oracle
agrees with the pipeline (the run reports ``correct``), that
dense_block's range-cut split fires, that checkpoint_resume restores all
five stages, and that every traced layer span nests under the run span.
Finally it checks that the benchmark fails fast where the package is
missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.oracle import pairs_within  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.trace import LAYERS  # noqa: E402
from osm_conflate_spark.functions.geo import distance_np  # noqa: E402

SEED = 7
TOY = 300


def check_grid_search() -> None:
    rng = np.random.default_rng(SEED)
    for radius, strict in ((100.0, False), (1.0, True)):
        span = radius * 30 / 111_319.0
        alat = 60 + rng.uniform(-span, span, 400)
        alon = rng.uniform(-2 * span, 2 * span, 400)
        blat = 60 + rng.uniform(-span, span, 300)
        blon = rng.uniform(-2 * span, 2 * span, 300)
        d = distance_np(alat[:, None], alon[:, None], blat[None, :], blon[None, :])
        want = set(zip(*np.nonzero(d < radius if strict else d <= radius)))
        i, j, _ = pairs_within(alat, alon, blat, blon, radius, strict)
        got = set(zip(i.tolist(), j.tolist()))
        assert got == want and len(i) == len(got), "grid search missed pairs"


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
           "--size", str(TOY)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_names(out: dict, specs, listed) -> None:
    names = {n: u for n, u, _ in specs}
    got = {n: m["unit"] for n, m in out["metrics"].items()}
    assert got == names, f"metrics/units differ: {set(got) ^ set(names)}"
    if listed is not None:
        assert {m["name"]: m["unit"] for m in listed} == names, \
            "BENCHMARK.json lists other metrics than the benchmark prints"


def check_spans(workload: str) -> None:
    """Spans of all eight layers exist and nest under the run span."""
    path = os.path.join(HERE, ".work", "spans", f"{workload}-{TOY}-{SEED}.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    by_id = {s["span_id"]: s for s in spans}
    root = spans[0]
    assert root["name"] == "plans.pipeline" and root["parent_id"] is None
    assert {s["name"] for s in spans} >= set(LAYERS), "a layer has no span"
    for s in spans[1:]:
        assert s["run_id"] == root["run_id"]
        p = by_id[s["parent_id"]]
        assert p["start"] <= s["start"] <= s["end"] <= p["end"], s
        while p["parent_id"] is not None:
            p = by_id[p["parent_id"]]
        assert p is root, f"span {s['name']} is not under the run span"


def check_missing_package() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=180,
        )
        assert p.returncode != 0 and not p.stdout.strip(), "ran without the package"


def main() -> None:
    check_grid_search()
    print("grid search: ok", flush=True)
    listed = None
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            listed = json.load(f)
        assert [w["name"] for w in listed["workloads"]] == list(WORKLOADS)
    for workload in WORKLOADS:
        out = run(workload, 0)
        assert out["correct"] and out["failed"] == 0, out
        check_names(out, END_TO_END, listed and listed["end_to_end"])
        out = run(workload, 1)
        assert out["correct"] and out["failed"] == 0, out
        check_names(out, PER_LAYER, listed and listed["per_layer"])
        m = {k: v["value"] for k, v in out["metrics"].items()}
        if workload == "dense_block":
            assert m["operators.match.salt_splits"] >= 1, "split did not fire"
        else:
            assert m["operators.match.salt_splits"] == 0
            assert m["plans.lineage.stages_resumed"] == 5
        check_spans(workload)
        print(f"{workload}: ok", flush=True)
    check_missing_package()
    print("missing package: ok\nselftest passed", flush=True)


if __name__ == "__main__":
    main()
