"""Round-6 optimization sidecar bench (bench.py is FROZEN for measurement).

Per query: noop-sink timing (1 warm-up + N trials, min), the warm-up's
Spark job, stage and task counts read from the status store
(``perfbench.trace.read_status``, skipped stages excluded), and
`.explain("formatted")` captured to plans/r06/<query>_<tag>.txt.  Job/stage
counts are the per-round shuffle and action audit the optimization guide
asks for (guide SS1-SS2): at sf0.1 most gate queries are scheduling-bound,
so the job count IS the cost model.

Usage:
  python bench_extra.py [--tag before|after] [--trials 3] [--no-plans] [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.trace import read_status  # noqa: E402
from webarchive_discovery_spark.plans import gate_queries  # noqa: E402
from webarchive_discovery_spark.session import get_spark  # noqa: E402

from bench import HEADLINE  # noqa: E402  (frozen list; read-only import)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="subset of query names (default: HEADLINE)")
    ap.add_argument("--tag", default=None, help="if set, write plans/r06/<q>_<tag>.txt")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default=None, help="write JSON results here")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    names = args.queries or HEADLINE
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)

    # warm the JVM once (same methodology as bench.py)
    gate_queries.QUERIES["q1_pricing_summary"](spark, sf_dir).count()

    results: dict[str, dict] = {}
    for name in names:
        fn = gate_queries.QUERIES[name]
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        sc.setJobDescription(name)

        # warm-up, counting the jobs, stages and tasks of the steady-state
        # plan from the status store; skipped stages were never submitted
        # and are not counted
        since = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        status = read_status(spark, since)
        n_jobs = len(status["jobs"])
        n_stages = len(status["stages"])
        n_tasks = sum(s["tasks"] for s in status["stages"].values())

        trial_secs = []
        build_secs = []
        for _ in range(args.trials):
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            trial_secs.append(round(time.time() - t0, 3))
            build_secs.append(round(t1 - t0, 3))
        best = min(trial_secs)
        build = min(build_secs)

        if args.tag:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())

        results[name] = {
            "sec": best,
            "build_sec": build,
            "trials": trial_secs,
            "jobs": n_jobs,
            "stages": n_stages,
            "tasks": n_tasks,
        }
        print(
            f"{name:36s} {best:7.3f}s (build {build:6.3f}s)  jobs={n_jobs:3d} "
            f"stages={n_stages:3d} tasks={n_tasks:5d}  trials={trial_secs}",
            flush=True,
        )
        sc.setJobDescription(None)

    total = round(sum(r["sec"] for r in results.values()), 3)
    print(f"TOTAL {total}s over {len(results)} queries")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"total": total, "queries": results}, fh, indent=1)


if __name__ == "__main__":
    main()
