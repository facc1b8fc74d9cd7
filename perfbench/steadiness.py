"""Run every workload once per seed, untraced, and report each end-to-end
metric's spread the way the acceptance check computes it: the distance
between the first and third quartile of the per-run values
(``statistics.quantiles(values, n=4)``) as a share of their median.

    python3 perfbench/steadiness.py --seeds 101-110 --out perfbench/evidence/set1.json

Run from the root of a checkout; runs are sequential so they never share
the cores.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> dict:
    """One run of the benchmark command; its result and summary lines."""
    t0 = time.time()
    cmd = [sys.executable, os.path.join(ROOT, *bench["command"][1].split("/")),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    summary = json.loads(lines[-2]) if result else {}
    return {
        "seed": seed, "trace": trace, "exit": proc.returncode, "run_s": round(time.time() - t0, 1),
        "correct": result and result["correct"], "failed": result and result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()} if result else {},
        "warm_walls": summary.get("warm_walls"), "timed_walls": summary.get("timed_walls"),
    }


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,2,3")
    ap.add_argument("--workloads", default=None, help="comma list (default: all in BENCHMARK.json)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bench = load_benchmark()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in workloads:
        runs = []
        for seed in parse_seeds(args.seeds):
            runs.append(run_once(bench, wl, seed))
            print(wl, seed, runs[-1]["run_s"], runs[-1]["correct"], runs[-1]["metrics"], flush=True)
        spreads = {}
        for name, bound in bounds.items():
            values = [r["metrics"][name] for r in runs if name in r["metrics"]]
            if len(values) < 2:
                continue
            med, share = stats.median(values), stats.iqr_share(values)
            spreads[name] = {"median": med, "iqr_share": share, "bound": bound}
            print(f"  {name:12s} median={med:.4g} iqr/median={share:.3f} bound={bound}")
        report["workloads"][wl] = {"runs": runs, "spreads": spreads}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
