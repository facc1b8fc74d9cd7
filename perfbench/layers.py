"""Per-layer metrics of a traced run.

Every per-layer figure is per *cycle* (a crawl epoch, or a pass over the
gate list), averaged over the timed cycles, unless its name says otherwise.
Spark jobs, stages and SQL executions belong to the cycle whose operation
span was innermost-open when they were submitted; stages belong to the job
that first lists them.
"""

from __future__ import annotations

from collections import defaultdict

from . import stats, trace

MIB = 1024.0 * 1024.0

# (name, unit, better) — BENCHMARK.json lists the same metrics
_BASE = [
    ("session.start_s", "s", "lower"),
    ("inputs.gen_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("driver.build_s", "s", "lower"),
    ("driver.idle_s", "s", "lower"),
    ("canon.rows", "count", "higher"),
    ("canon.python_s", "s", "lower"),
    ("canon.mb_to_python", "MB", "lower"),
    ("order.s", "s", "lower"),
    ("shuffle.write_mb", "MB", "lower"),
    ("shuffle.read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
    ("seen.build_s", "s", "lower"),
    ("seen.probe_s", "s", "lower"),
    ("seen.positives", "count", "lower"),
    ("seen.useful_ratio", "ratio", "higher"),
    ("ckpt.write_s", "s", "lower"),
    ("ckpt.read_s", "s", "lower"),
    ("ckpt.bytes_per_url", "B", "lower"),
    ("fetch.rows", "count", "higher"),
    ("fetch.python_s", "s", "lower"),
    ("fetch.ok_ratio", "ratio", "higher"),
    ("crawl.actions", "count", "lower"),
    ("crawl.metrics_s", "s", "lower"),
    ("crawl.loop_s", "s", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("trace.op_s_p50", "s", "lower"),
    ("trace.spans", "count", "lower"),
]


def metric_list(gates):
    """All per-layer metrics, in BENCHMARK.json order."""
    out = list(_BASE)
    for g in gates:
        out.append((f"gate.{g}_s", "s", "lower"))
        out.append((f"gate.{g}.jobs", "count", "lower"))
    return out


_SEEN_BUILD = {"operators.bloom.build_bloom", "operators.bloom.build_bloom_shards",
               "operators.cuckoo.build_cuckoo_shards"}
_SEEN_PROBE = {"operators.bloom.bloom_negative_filter", "operators.bloom.bloom_negative_filter_sharded",
               "operators.cuckoo.cuckoo_negative_filter_sharded"}
_CKPT_READ = {"plans.checkpoint.read", "plans.checkpoint.read_merged", "plans.checkpoint.latest"}
# spans whose self time is loop control, not any layer's work
_WRAPPERS = {"plans.crawl.run_crawl"}


def per_layer(spark, wl, tracer, window_start: float) -> dict:
    from .workloads import GATES

    spans = [s for s in tracer.spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    self_t = stats.self_times(spans)
    op_cycle = {o["span"]: o["cycle"] for o in wl.ops if o.get("span") is not None}
    op_key = {o["span"]: o["key"] for o in wl.ops if o.get("span") is not None}
    timed = sorted((s for s in spans if s["start"] >= window_start), key=lambda s: s["start"])

    def op_of(sid):
        for a in stats.ancestors(by_id, sid) if sid is not None else ():
            if a in op_cycle:
                return a
        return None

    def op_at(t):
        return op_of(stats.innermost_span(timed, t))

    cycles = sorted(set(op_cycle.values()))
    per = {c: defaultdict(float) for c in cycles}
    st = trace.read_status(spark, window_start)

    # jobs, stages, executor time, shuffle
    stage_op = {}
    op_jobs = defaultdict(list)  # op key -> jobs of each execution
    jobs_per_op = defaultdict(int)
    for j in st["jobs"]:
        op = op_at(j["submitted"])
        if op is None:
            continue
        per[op_cycle[op]]["spark.jobs"] += 1
        jobs_per_op[op] += 1
        for sid in j["stages"]:
            if sid in st["stages"]:
                stage_op.setdefault(sid, op)
    widest = {}
    for sid, op in stage_op.items():
        s, p = st["stages"][sid], per[op_cycle[op]]
        p["spark.stages"] += 1
        p["spark.tasks"] += s["tasks"]
        p["exec.run_s"] += s["run_s"]
        p["exec.cpu_s"] += s["cpu_s"]
        p["exec.gc_s"] += s["gc_s"]
        p["shuffle.write_mb"] += s["shuffle_write"] / MIB
        p["shuffle.read_mb"] += s["shuffle_read"] / MIB
        p["spill_mb"] += s["spill"] / MIB
        c = op_cycle[op]
        if c not in widest or (s["tasks"], s["run_s"]) > widest[c][1:]:
            widest[c] = (sid, s["tasks"], s["run_s"])
    stage_iv = [(st["stages"][sid]["submitted"], st["stages"][sid]["completed"]) for sid in stage_op]

    # idle time, per operation
    for op, c in op_cycle.items():
        lo, hi = by_id[op]["start"], by_id[op]["end"]
        per[c]["driver.idle_s"] += (hi - lo) - stats.covered(stage_iv, lo, hi)
        op_jobs[op_key[op]].append(jobs_per_op[op])

    # layer spans
    for s in timed:
        op = op_of(s["id"])
        if op is None or s["id"] == op:
            continue
        p, name, dur = per[op_cycle[op]], s["name"], s["end"] - s["start"]
        if s["kind"] == "build":
            p["driver.build_s"] += self_t[s["id"]]
        if name == "operators.frontier.global_sequence":
            p["order.s"] += dur
        elif name in _SEEN_BUILD:
            p["seen.build_s"] += dur
        elif name in _SEEN_PROBE:
            p["seen.probe_s"] += dur
        elif name == "plans.checkpoint.write":
            p["ckpt.write_s"] += dur
        elif name in _CKPT_READ:
            p["ckpt.read_s"] += dur
        elif name in _WRAPPERS:
            p["crawl.loop_s"] += self_t[s["id"]]
        if name == "plans.crawl.collect":
            p["crawl.metrics_s"] += dur
        if s["kind"] == "action" and wl.name != "gate_mix" and not name.startswith("perfbench"):
            p["crawl.actions"] += 1

    # SQL operator metrics: the Python boundary and the Bloom positives
    positives = defaultdict(float)
    for e in st["executions"]:
        op = op_at(e["submitted"])
        if op is None:
            continue
        c = op_cycle[op]
        p = per[c]
        probe_filters = []
        for n in e["nodes"]:
            m, desc = n["metrics"], n["desc"]
            py_s = m.get("time to run Python workers", 0.0)
            rows = m.get("number of output rows", 0.0)
            if "canonical_struct_udf" in desc:
                p["canon.rows"] += rows
                p["canon.python_s"] += py_s
                p["canon.mb_to_python"] += m.get("data sent to Python workers", 0.0) / MIB
            elif n["name"] == "MapInPandas" and "run(" in desc and wl.name != "gate_mix":
                p["fetch.rows"] += rows
                p["fetch.python_s"] += py_s
            elif "probe(" in desc:
                p["seen.probe_s"] += py_s
            elif n["name"] == "Filter" and "probe(" in (n["source"] or "") and "NOT" not in desc:
                probe_filters.append(rows)
        if probe_filters:
            # each execution that probes holds the positive filter once per
            # consumer of the positive branch, plus one filter on the probe
            # column that is not the positive branch; the positive branch is
            # the smallest (checked against dup_seen, which it bounds)
            positives[c] = max(positives[c], min(probe_filters))

    # figures from the checked outputs
    for o in wl.ops:
        if o["cycle"] not in per or not o.get("statuses"):
            continue
        p, sts = per[o["cycle"]], o["statuses"]
        attempted = sts["fetched"] + sts["fetch_error"]
        p["fetch.ok_ratio"] += sts["fetched"] / attempted if attempted else 0.0
        p["seen.positives"] = positives[o["cycle"]]
        p["seen.useful_ratio"] += sts["dup_seen"] / positives[o["cycle"]] if positives[o["cycle"]] else 0.0
        p["ckpt.bytes_per_url"] += o.get("ckpt_bytes", 0) / o["rows"] if o["rows"] else 0.0

    skews = [trace.task_skew(spark, sid, st["stages"][sid]["attempt"])
             for sid, _, _ in (widest[c] for c in cycles[:3] if c in widest)]

    n = max(len(cycles), 1)
    out = {}
    for name, unit, _ in metric_list(g for g, _ in GATES):
        if name.startswith("gate.") or name.startswith(("session.", "inputs.", "trace.")) or name == "task_skew":
            continue
        out[name] = (sum(per[c][name] for c in cycles) / n, unit)
    out["task_skew"] = (stats.median(skews) if skews else 1.0, "ratio")
    setup = {s["name"]: s["end"] - s["start"] for s in spans if s["kind"] == "setup"}
    out["session.start_s"] = (setup.get("session.get_spark", 0.0), "s")
    out["inputs.gen_s"] = (setup.get("inputs.gen", 0.0), "s")
    cycle_walls = defaultdict(float)
    for o in wl.ops:
        if o["ok"]:
            cycle_walls[o["cycle"]] += o["wall"]
    out["trace.coverage"] = (1.0 - stats.unattributed_share(spans, op_cycle, _WRAPPERS), "ratio")
    out["trace.op_s_p50"] = (stats.median(list(cycle_walls.values())) if cycle_walls else 0.0, "s")
    out["trace.spans"] = (float(len(spans)), "count")
    for gate, _ in GATES:
        walls = [o["wall"] for o in wl.ops if o["key"] == gate and o["ok"]]
        out[f"gate.{gate}_s"] = (stats.median(walls) if walls else 0.0, "s")
        out[f"gate.{gate}.jobs"] = (stats.median(op_jobs[gate]) if op_jobs[gate] else 0.0, "count")
    return out

