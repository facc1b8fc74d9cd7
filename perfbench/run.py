"""Benchmark entry point.

    python3 perfbench/run.py --workload <crawl_epochs|gate_mix|frontier_bulk>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the workload's inputs from the
seed, warms up with full-shape passes, measures closed-loop operations for
``--seconds`` seconds, checks every output, and prints as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``).  The lines before it record the pinned environment, the
failed share and any failed operation.  Everything it writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
MAX_RUN_S = 150.0  # the window ends early rather than overrun the 180 s limit


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def reap_stale(work: str) -> list[str]:
    """Remove ``run-<pid>`` dirs (each holds that run's spark-local,
    wds-seq staging, temp files and checkpoints) whose process is dead;
    a live run's dir is never touched."""
    reaped = []
    for d in sorted(os.listdir(work)):
        pid = d.removeprefix("run-")
        if d.startswith("run-") and pid.isdigit() and not pid_alive(int(pid)):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
            reaped.append(d)
    return reaped


def pin_environment(run_dir: str) -> dict:
    """Pin cores, local dirs, staging, temp dirs and driver memory; return
    the record printed with every result."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    }
    os.environ.update(env)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.wds.staging.dir": os.path.join(run_dir, "staging"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return {"env": env, "conf": conf, "master": f"local[{cpus}]"}


def process_tree_hwm() -> dict:
    """VmHWM in MB of this process and each descendant (the driver JVM and
    the Python workers), keyed by ``<pid>:<command>``."""
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            pass
    return out


def cycle_walls(wl) -> dict:
    """Wall of each timed cycle in which every operation succeeded: the sum
    of its operations.  A cycle with a failed operation is left out rather
    than counted short."""
    cycles, broken = {}, set()
    for o in wl.ops:
        if o["ok"]:
            cycles[o["cycle"]] = cycles.get(o["cycle"], 0.0) + o["wall"]
        else:
            broken.add(o["cycle"])
    return {c: w for c, w in cycles.items() if c not in broken}


def end_to_end(wl, setup_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics.  The time metrics are left out when no timed
    cycle completed (``correct`` is then false)."""
    from perfbench import stats

    out = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss_mb, "MB")}
    cycles = cycle_walls(wl)
    if not cycles:
        return out
    ops = [o for o in wl.ops if o["cycle"] in cycles]
    wall = sum(o["wall"] for o in ops)
    if wl.name == "gate_mix":
        work = sum(o["input_rows"] for o in ops)
        per_gate = {}
        for o in ops:
            per_gate.setdefault(o["key"], []).append(o["wall"])
        gates_s = sum(stats.median(v) for v in per_gate.values())
    else:
        work = sum(o["rows"] for o in ops)
        gates_s = stats.median(list(cycles.values()))
    out.update({
        "urls_per_s": (work / wall, "1/s"),
        "epoch_s_p50": (stats.median(list(cycles.values())), "s"),
        "gates_s": (gates_s, "s"),
    })
    return out


def stop_spark(spark):
    """Stop the session and wait until the driver JVM (and with it the
    Python workers) has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import webarchive_discovery_spark  # noqa: F401
        from webarchive_discovery_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import layers, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    reaped = reap_stale(WORK)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    pinned = pin_environment(run_dir)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(bool(args.trace), run_id, ROOT)
    tracer.install()

    spark = None
    try:
        with tracer.span("session.get_spark", "setup"):
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=pinned["conf"])
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, run_dir)
        wl.setup()

        window_start = time.time()
        setup_s = window_start - t_start
        cycles = max(2, round(args.seconds / wl.nominal_cycle_s))
        for i in range(wl.warmup_cycles, wl.warmup_cycles + cycles):
            wl.cycle(i)
            if time.time() - t_start > MAX_RUN_S:
                break
        window_s = time.time() - window_start
        hwm = process_tree_hwm()
        rss = sum(hwm.values())
        wl.check_earlier_runs(WORK)

        if args.trace:
            tracer.uninstall()
            metrics = layers.per_layer(spark, wl, tracer, window_start)
            spans_path = os.path.join(WORK, f"spans-{run_id}.json")
            tracer.write(spans_path)
        else:
            metrics = end_to_end(wl, setup_s, rss)
            spans_path = None
    finally:
        tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    all_ops = wl.warm_ops + wl.ops
    failed = [o for o in all_ops if not o["ok"]]
    cycles = cycle_walls(wl)
    for o in failed:
        print(json.dumps({"failed_op": {k: o.get(k) for k in ("cycle", "key", "error")}}))
    print(json.dumps({
        "environment": pinned, "reaped_stale": reaped, "workload": args.workload,
        "seed": args.seed, "inputs": wl.info, "window_s": round(window_s, 3),
        "cycle_s": stats.summary(list(cycles.values())) if cycles else None,
        "warm_walls": [round(o["wall"], 3) for o in wl.warm_ops],
        "timed_walls": [round(o["wall"], 3) for o in wl.ops],
        "failed_share": len(failed) / len(all_ops), "spans_file": spans_path,
        "vm_hwm_mb": {k: round(v, 1) for k, v in hwm.items()},
    }))
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
