"""Frontier-epoch profiling: N→4N scaling evidence and a per-stage profile,
both measured on the engine's production fetch-scheduling plan.

The job (:func:`build`) is the plan the ``frontier_fetch_order`` gate runs,
over the events-derived URL universe replicated ``replication``× (hosts
scale with volume — real frontiers have hosts ≫ cores):

  canon   : ``frontier.canonicalize_frontier`` — the Arrow-UDF pass
            (embarrassingly parallel: should scale ~linearly)
  dedup   : + ``gate_queries._frontier_dedup`` — hash exchange on host +
            (host, url_norm) aggregate + priority
  window  : + ``frontier.robots_match`` broadcast join +
            ``frontier.politeness_status`` (per-host slot, status, band;
            reuses the dedup exchange — no extra shuffle)
  sequence: + ``frontier.schedule_fetches``'s range repartition, pinned
            ranged layout and offset stamp (the full job)

Each parallelism level runs in its own JVM (a subprocess of this script).
Inside it, every timed cut first runs once on a 2% sample (codegen, JIT and
Python-worker start-up stay outside the timings); then ``trials`` rounds run
every cut in turn, each written to the ``noop`` sink, and the minimum per cut
is reported.  Interleaving the cuts means a slow spell on a shared host hits
all cuts alike, so the cross-cut subtraction stays meaningful.

Usage:
  python scripts/frontier_profile.py scaling [small=2] [large=8] \
      [replication=100] [trials=3] [envelope=<2·small>,<2·large>|none]
    times the full job at local[small] and local[large] (plus the envelope
    levels) → BENCH/scaling.json, BENCH/BASELINE.md
  python scripts/frontier_profile.py stages [small=4] [large=16] \
      [replication=100] [trials=3]
    times every cut at both levels → BENCH/stage_profile.json (marginal
    seconds, speedup and efficiency per cut)

``SPARK_GRAFT_SF_DIR`` (required) names the directory holding the input
``events.parquet`` — the sf0.1 test tables for the committed evidence;
``SPARK_DRIVER_MEMORY`` overrides the per-level heap (default 3 GiB per core,
at least 6 GiB: a real cluster adds executor memory with every executor).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

CUTS = ["canon", "dedup", "window", "sequence"]


def frontier_urls(spark, sf_dir: str, replication: int, partitions: int):
    """``(event_id, url, hostn)``: the events table crossed with
    ``replication`` copies, 20 hosts per copy, four URL spellings per page
    (scheme, ``www.``, trailing slash, an unescaped query) so the dedup
    collapses real variants.  Pinned, spread over ``partitions``."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rep = ev.crossJoin(spark.range(replication).withColumnRenamed("id", "rep"))
    hostn = (F.col("user_id") % 20) * replication + F.col("rep")
    host = F.concat(F.lit("h"), F.lpad(hostn.cast("string"), 5, "0"), F.lit(".example.org"))
    basep = F.concat(F.lit("/p/"), F.floor(F.col("event_id") / 2).cast("long").cast("string"))
    v = F.col("event_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("http://"), host, basep))
        .when(v == 1, F.concat(F.lit("https://"), host, basep))
        .when(v == 2, F.concat(F.lit("http://www."), host, basep, F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), host, basep, F.lit("?q=a b")))
    )
    return rep.select(
        (F.col("event_id") * replication + F.col("rep")).alias("event_id"),
        url.alias("url"), hostn.alias("hostn"),
    ).repartition(partitions).localCheckpoint()


def robots_rules(spark, replication: int):
    """One rule per host: every fifth host denies ``/p/``, the rest allow."""
    return spark.range(20 * replication).selectExpr(
        "concat('h', lpad(cast(id as string), 5, '0'), '.example.org') as host",
        "case when id % 5 = 0 then 'deny' else 'allow' end as rule_type",
        "case when id % 5 = 0 then '/p/' else '/' end as path_prefix",
        "cast(100 * (id % 4 + 1) as int) as crawl_delay_ms",
    )


def build(urls, rules, cut: str = "sequence", num_partitions: int | None = None):
    """The profiled job, stopped after ``cut`` (see the module docstring)."""
    from webarchive_discovery_spark.operators import frontier
    from webarchive_discovery_spark.plans import gate_queries

    fr = frontier.canonicalize_frontier(urls, "url")
    if cut == "canon":
        return fr
    dd = gate_queries._frontier_dedup(fr=fr)
    if cut == "dedup":
        return dd
    rm = frontier.robots_match(dd, rules)
    if cut == "window":
        return frontier.politeness_status(rm)
    return frontier.schedule_fetches(rm, num_partitions=num_partitions)


def _level(cores: int, replication: int, trials: int, cuts: list[str]) -> dict:
    """Runs inside the level's JVM: warm-up, then interleaved trials."""
    import time

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(f"frontier-profile-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    urls = frontier_urls(spark, sf_dir, replication, cores * 2)
    rules = robots_rules(spark, replication)

    def run(u, cut) -> int:
        obs = Observation()
        df = build(u, rules, cut, num_partitions=cores)
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        return obs.get["n"]

    for cut in cuts:
        run(urls.sample(0.02, seed=1), cut)
    secs = {cut: [] for cut in cuts}
    rows = {}
    for _ in range(trials):
        for cut in cuts:
            t0 = time.perf_counter()
            rows[cut] = run(urls, cut)
            secs[cut].append(round(time.perf_counter() - t0, 2))
    return {"cores": cores, "rows": rows, "secs": secs}


def _reap_dead_tmpfs():
    """Backstop cleanup for crashed JVMs only: live sessions clean their own
    per-pid dirs at exit (session.py atexit), so only remove spark-local dirs
    whose process is gone — never another running session's live files."""
    import glob
    import shutil

    for d in glob.glob("/dev/shm/spark-local-*"):
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(d, ignore_errors=True)


def run_level(cores: int, replication: int, trials: int, cuts: list[str]) -> dict:
    mem = os.environ.get("SPARK_DRIVER_MEMORY", f"{max(6, 3 * cores)}g")
    env = dict(os.environ, SPARK_DRIVER_MEMORY=mem)
    args = ["_level", str(cores), str(replication), str(trials), ",".join(cuts)]
    out = subprocess.run([sys.executable, os.path.abspath(__file__), *args], env=env,
                         capture_output=True, text=True, timeout=3600)
    _reap_dead_tmpfs()
    lines = [line for line in out.stdout.splitlines() if line.startswith("{")]
    if not lines:
        raise RuntimeError(f"no output at cores={cores}:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def scaling(small=2, large=8, replication=100, trials=3, envelope=None):
    def level(cores, n_trials):
        r = run_level(cores, replication, n_trials, ["sequence"])
        secs = r["secs"]["sequence"]
        urls = r["rows"]["sequence"]
        return {"cores": cores, "urls": urls, "sec": min(secs),
                "urls_per_sec": round(urls / min(secs)), "all_secs": secs}

    envelope = [small * 2, large * 2] if envelope is None else envelope
    r_small, r_large = level(small, trials), level(large, trials)
    speedup = r_large["urls_per_sec"] / r_small["urls_per_sec"]
    ideal = large / small
    env_levels = [level(c, max(2, trials - 1)) for c in envelope]
    pairs = [{"pair": f"{small}->{large}", "speedup": round(speedup, 3),
              "efficiency": round(speedup / ideal, 3)}]
    for a, b in zip(env_levels, env_levels[1:]):
        s = b["urls_per_sec"] / a["urls_per_sec"]
        pairs.append({"pair": f"{a['cores']}->{b['cores']}", "speedup": round(s, 3),
                      "efficiency": round(s / (b["cores"] / a["cores"]), 3)})
    report = {
        "job": "frontier canonicalize→dedup→robots→politeness→global order",
        "input_urls": r_small["urls"],
        "levels": [r_small, r_large],
        "envelope_levels": env_levels,
        "envelope_pairs": pairs[1:],
        "trials": trials,
        "speedup": round(speedup, 3),
        "ideal_speedup": ideal,
        "scaling_efficiency": round(speedup / ideal, 3),
        "criterion": ">= 0.8",
        "pass": speedup / ideal >= 0.8,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling.json", "w") as f:
        json.dump(report, f, indent=2)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(
            "# BENCH/BASELINE — two-cluster-size scaling evidence\n\n"
            "The north rule's N→4N executor criterion, evidenced by running\n"
            "the IDENTICAL frontier job (`scripts/frontier_profile.py`, the\n"
            "production `frontier.schedule_fetches` plan) at two local\n"
            "parallelism levels on the same input, each level in its own JVM\n"
            f"after a warm-up; each level runs {trials} trials and the\n"
            "minimum is reported.\n\n"
            f"Job: {report['job']}\n\n"
            "| cores | URLs | wall sec (min) | all trials | URLs/sec |\n|---|---|---|---|---|\n"
            + "".join(
                f"| local[{r['cores']}] | {r['urls']:,} | {r['sec']} | {r['all_secs']} "
                f"| {r['urls_per_sec']:,} |\n"
                for r in report["levels"] + env_levels
            )
            + f"\nSpeedup {small}→{large} cores: **{report['speedup']}×** "
            f"(ideal {ideal}×) → scaling efficiency **{report['scaling_efficiency']}** "
            f"({'PASS' if report['pass'] else 'FAIL'} vs ≥0.8 criterion).\n\n"
            "Full envelope (same job, same input):\n\n"
            "| pair | speedup | efficiency |\n|---|---|---|\n"
            + "".join(f"| {p['pair']} | {p['speedup']}× | {p['efficiency']} |\n" for p in pairs)
            + "\nPer-stage breakdown: `python scripts/frontier_profile.py stages`\n"
            "→ `BENCH/stage_profile.json`.\n"
        )
    print(json.dumps(report))


def stages(small=4, large=16, replication=100, trials=3):
    cum = {c: {cut: min(s) for cut, s in run_level(c, replication, trials, CUTS)["secs"].items()}
           for c in (small, large)}
    rows = []
    prev_s = prev_l = 0.0
    for cut in CUTS:
        ms, ml = cum[small][cut] - prev_s, cum[large][cut] - prev_l
        prev_s, prev_l = cum[small][cut], cum[large][cut]
        speed = ms / ml if ml > 0 else float("inf")
        rows.append({
            "stage": cut,
            f"marginal_sec_{small}c": round(ms, 2),
            f"marginal_sec_{large}c": round(ml, 2),
            "speedup": round(speed, 2),
            "efficiency": round(speed / (large / small), 3),
        })
    report = {"small": small, "large": large, "replication": replication,
              "trials": trials, "cumulative": cum, "stages": rows}
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/stage_profile.json", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


def main(argv: list[str]):
    if (not argv or argv[0] not in ("scaling", "stages", "_level")
            or not os.environ.get("SPARK_GRAFT_SF_DIR")):
        sys.exit(__doc__)
    mode, args = argv[0], argv[1:]
    if mode == "_level":
        cores, replication, trials = (int(a) for a in args[:3])
        print(json.dumps(_level(cores, replication, trials, args[3].split(","))))
    elif mode == "stages":
        stages(*(int(a) for a in args[:4]))
    else:
        envelope = None
        if len(args) > 4:
            envelope = [] if args[4] == "none" else [int(x) for x in args[4].split(",")]
        scaling(*(int(a) for a in args[:4]), envelope=envelope)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main(sys.argv[1:])
