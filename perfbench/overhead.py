"""Measure the tracing overhead: untraced and traced runs of one seed,
alternating (U T, then T U, ...) so host drift falls on both sides
alike, and compare the median cycle wall of each side (``epoch_s_p50``
untraced, ``trace.op_s_p50`` traced — the same quantity).

    python3 perfbench/overhead.py --seed 7 --pairs 3 --out perfbench/evidence/trace_overhead.json

Run-to-run drift of the host can be larger than the overhead, so the
report also gives the cost of one span, timed on a no-op layer function and a
no-op action: spans per cycle times that cost bounds what the wrappers add
inside the timed window.  The report keeps every traced run's per-layer
metrics, so it doubles as the evidence of the traced run.  Run from the root
of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.steadiness import load_benchmark, run_once  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


class _NoOp:
    def layer(self):
        pass

    def action(self):
        pass


def span_cost_s(calls: int = 200_000) -> dict:
    """Seconds one span adds to a call: of a wrapped layer function, and of
    a wrapped action (which also looks up its calling frame)."""
    def time_calls(fn):
        t0 = time.perf_counter()
        for _ in range(calls):
            fn()
        return (time.perf_counter() - t0) / calls

    obj = _NoOp()
    base = time_calls(obj.layer)
    tracer = Tracer(True, "cost", ROOT)
    tracer.wrap(_NoOp, "layer", "cost.layer")
    tracer.wrap_action(_NoOp, "action")
    try:
        layer = time_calls(obj.layer)
        tracer.spans.clear()
        action = time_calls(obj.action)
    finally:
        tracer.uninstall()
    return {"layer": layer - base, "action": action - base}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--workloads", default=None, help="comma list (default: all in BENCHMARK.json)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bench = load_benchmark()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    cost = span_cost_s()
    print(f"span cost: layer {cost['layer'] * 1e6:.1f} us, action {cost['action'] * 1e6:.1f} us", flush=True)
    report = {"seed": args.seed, "run_seconds": bench["run_seconds"], "span_cost_s": cost, "workloads": {}}
    for wl in workloads:
        runs = []
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs.append(run_once(bench, wl, args.seed, trace))
                r = runs[-1]
                print(wl, "traced" if trace else "untraced", r["run_s"], r["correct"],
                      r["metrics"].get("trace.op_s_p50", r["metrics"].get("epoch_s_p50")), flush=True)
        untraced = [r["metrics"]["epoch_s_p50"] for r in runs if not r["trace"] and r["correct"]]
        traced = [r["metrics"]["trace.op_s_p50"] for r in runs if r["trace"] and r["correct"]]
        entry = {"runs": runs}
        if untraced and traced:
            entry.update({
                "untraced_cycle_s_p50": stats.median(untraced),
                "traced_cycle_s_p50": stats.median(traced),
                "overhead": stats.median(traced) / stats.median(untraced) - 1.0,
                "coverage_min": min(r["metrics"]["trace.coverage"] for r in runs if r["trace"] and r["correct"]),
            })
            print(f"  {wl}: untraced {entry['untraced_cycle_s_p50']:.3f} s, traced "
                  f"{entry['traced_cycle_s_p50']:.3f} s, overhead {entry['overhead']:+.1%}, "
                  f"coverage >= {entry['coverage_min']:.3f}", flush=True)
        report["workloads"][wl] = entry
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
