"""Extra measurement harness for optimization round 6 (guide §1).

NOT part of the driver contract — bench.py stays the frozen measured
surface.  This file exists to (a) time individual declared queries in
isolation with the noop sink and (b) capture .explain("formatted") plans
to plans/r06/, both at an arbitrary sf dir.  Pipeline stage timings come
from ``python3 perfbench/run.py --trace 1``.

Usage:
  python bench_extra.py --queries ngram_jaccard,dup_shingles --sf /root/testdata/sf1.0 --passes 3
  python bench_extra.py --plans ngram_jaccard --sf /root/testdata/sf1.0 --tag before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))


def _median(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else 0.5 * (s[m - 1] + s[m])


def build(cpus: int):
    from osm_conflate_spark.plans.pipeline import build_session

    spark = build_session(
        app="bench-extra",
        master=os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", max(32, cpus))),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--plans", default="")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build(cpus)
    import __spark_entry__ as em

    reg = em.queries()

    if args.plans:
        os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
        for name in args.plans.split(","):
            df = reg[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(REPO, "plans", "r06", f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")

    if args.queries:
        names = (
            list(reg) if args.queries == "ALL" else args.queries.split(",")
        )
        out = {}
        for name in names:
            ts = []
            for _ in range(args.passes):
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.monotonic()
                reg[name](spark, args.sf).write.format("noop").mode("overwrite").save()
                ts.append(round(time.monotonic() - t0, 3))
            out[name] = {"median": round(_median(ts), 3), "runs": ts}
            print(f"{name}: median {out[name]['median']}s  runs {ts}", flush=True)
        print("RESULT " + json.dumps({k: v["median"] for k, v in out.items()}))

    spark.stop()


if __name__ == "__main__":
    main()
