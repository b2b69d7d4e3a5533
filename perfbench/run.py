"""Conflation benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dense_block --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
(and cached under ``perfbench/.work``), the expected output comes from a
Spark-free oracle, and every timed job's outputs are checked against it.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run.  See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dense_block", "checkpoint_resume")
HEAP = "2g"  # driver heap; build_session's default is 48g


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser("perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="pages/points per input (default: the full size; "
                    "the self-test passes a toy size)")
    return ap.parse_args(argv)


def _session_env(work: str) -> tuple[dict, int]:
    """Session sized for one small machine, from the launcher only:
    local[nproc], two shuffle partitions per core, an explicit driver
    heap, no console progress, and a status store that keeps a whole run.
    The heap is committed up front (-Xms = -Xmx): a heap that grows on
    demand left VmHWM anywhere between 1.3 and 2.1 GB on identical runs."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "10000000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return conf, cores


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except OSError:
                pass
    return out


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _retained_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a forced full GC: what the
    finished job left behind (persisted blocks, status store).  VmHWM
    cannot see it, since the whole heap is committed at start.  The
    first GC lets the context cleaner drop blocks of broadcasts that are
    no longer referenced; the second collects what that freed."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def _stop(spark, jvm_pid: int) -> None:
    """Stop the session and the JVM, and wait for the JVM and the Python
    workers it started to end."""
    from pyspark import SparkContext

    procs = _children(jvm_pid)
    procs += [c for p in procs for c in _children(p)]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in procs
    ):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "osm_conflate_spark")):
        print("perfbench: no osm_conflate_spark package next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.check import check_job, traced_problems
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.oracle import cached_expected
    from perfbench.trace import layer_metrics, traced_run
    from perfbench.workloads import (FULL_N, TOY_N, make_inputs, release,
                                     run_job)
    from osm_conflate_spark.plans.pipeline import build_session

    import_s = _since_process_start()
    work = os.path.join(ROOT, "perfbench", ".work")
    conf, cores = _session_env(work)
    inp = make_inputs(work, args.workload, args.size or FULL_N, args.seed)
    exp = cached_expected(work, inp)
    toy = make_inputs(work, args.workload, TOY_N, args.seed)
    log(f"{args.workload} seed={args.seed}: expected {exp}")

    t0 = time.monotonic()
    spark = build_session(app="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores, extra_conf=conf)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    run_job(spark, toy, work)  # warm-up: JIT, codegen, Python workers
    release(spark)
    setup_s = import_s + time.monotonic() - t0
    log(f"setup {setup_s:.2f} s")

    walls, colds, resumes, pinned, heaps = [], [], [], [], []
    attempted = failed = 0
    start = time.monotonic()
    while attempted == 0 or time.monotonic() - start < args.seconds:
        attempted += 1
        try:
            job = run_job(spark, inp, work)
            problems = check_job(job, inp, exp)
        except Exception:  # noqa: BLE001 -- a failed run is counted, not fatal
            log(traceback.format_exc())
            problems = ["job raised"]
            job = None
        if job is not None:
            walls.append(job.wall_s)
            colds.append(job.cold_s)
            resumes.append(job.resume_s)
            pinned.append(job.persisted_rdds)
            heaps.append(_retained_heap_mb(spark))
            log(f"job {attempted}: {job.wall_s:.3f} s "
                f"(cold {job.cold_s:.3f}, resume {job.resume_s:.3f}, "
                f"retained heap {heaps[-1]:.1f} MB)")
        if problems:
            failed += 1
            log(f"job {attempted} FAILED: {problems}")
        release(spark)

    metrics: dict[str, float] = {}
    if args.trace:
        attempted += 1
        try:
            tr, traced = traced_run(spark, inp, work, run_id=inp.name)
            tr.write(os.path.join(work, "spans", f"{tr.run_id}.jsonl"))
            metrics = layer_metrics(spark, tr, traced)
            metrics["plans.lineage.resume_s"] = statistics.median(resumes)
            metrics["plans.pipeline.persisted_rdds"] = max(pinned)
            metrics["plans.pipeline.retained_heap_mb"] = statistics.median(heaps)
            # the traced pass replays the cold run, not the resumed one
            root = tr.spans[0]
            metrics["plans.pipeline.trace_overhead_s"] = (
                root["end"] - root["start"] - statistics.median(colds)
            )
            problems = traced_problems(traced, inp, exp)
        except Exception:  # noqa: BLE001
            log(traceback.format_exc())
            problems = ["traced run raised"]
        if problems:
            failed += 1
            log(f"traced run FAILED: {problems}")
        release(spark)
        specs = PER_LAYER
    else:
        metrics = dict(setup_s=setup_s, jvm_peak_rss_mb=_vm_hwm_mb(jvm_pid))
        if walls:
            metrics["conflate_s"] = statistics.median(walls)
            metrics["rows_per_s"] = exp["n_input"] / metrics["conflate_s"]
        specs = END_TO_END
    _stop(spark, jvm_pid)

    out = {
        "correct": failed == 0 and all(n in metrics for n, _, _ in specs),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": metrics.get(n, -1.0), "unit": u} for n, u, _ in specs
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
