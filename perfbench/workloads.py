"""The three closed-loop workloads.  Each runs on the driver thread, calls
the engine's public entry points (``plans.crawl.run_crawl`` and
``plans.gate_queries.QUERIES``), checks every output, and records one entry
per operation: a crawl epoch or one gate execution.

An operation that raises or fails a check is counted as failed; the run goes
on.  A *cycle* is the unit the end-to-end medians are taken over: one epoch
on the crawl workloads, one pass over the gate list on ``gate_mix``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from . import inputs, stats

STATUSES = ("fetched", "dup_seen", "robots_denied", "delayed", "fetch_error")
_MASK32 = (1 << 32) - 1

# (gate, table it scans): the sources.warc / operators.cdx scans, the
# connected-components and gradient-descent loops, and the cheap
# repartition-spread (_ts) gates beside a heavy Arrow kernel
GATES = (
    ("warc_parse_records", "events"),
    ("cdx_generate", "events"),
    ("dedup_exact", "documents"),
    ("image_phash_clusters", "documents"),
    ("quality_classifier_probs", "documents"),
    ("entity_extract", "events"),
    ("url_type_counts", "events"),
    ("aspect_bucket_assign", "documents"),
)


def spark_digest_cols(df, cols):
    """Columns that, summed, give an order-insensitive digest of ``cols``:
    the row count and the sums of the high and low halves of xxhash64."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    types = {f.name: f.dataType for f in df.schema.fields}
    hashed = [F.to_json(F.col(c)) if isinstance(types[c], MapType) else F.col(c) for c in cols]
    h = F.xxhash64(*hashed)
    return [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.shiftright(h, 32)).alias("_hi"),
        F.sum(h.bitwiseAND(F.lit(_MASK32))).alias("_lo"),
    ]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class Workload:
    name = ""
    warmup_cycles = 1
    # expected wall of one timed cycle on 4 cores: the window runs
    # round(seconds / nominal_cycle_s) cycles (at least 2), so the number of
    # samples does not flip between runs on a growing crawl
    nominal_cycle_s: float

    def __init__(self, spark, tracer, seed: int, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.run_dir = run_dir
        self.ops: list[dict] = []  # timed operations
        self.warm_ops: list[dict] = []
        self.digests: dict[str, str] = {}  # op key -> digest, checked across repetitions
        self.info: dict = {}

    # one untimed or timed operation ------------------------------------
    def _op(self, cycle: int, key: str, name: str, fn, check, timed: bool):
        rec = {"cycle": cycle, "key": key, "name": name, "ok": False, "error": None}
        try:
            with self.tracer.span(name, "op") as span:
                t0 = time.perf_counter()
                out = fn()
                rec["wall"] = time.perf_counter() - t0
            rec["span"] = None if span is None else span["id"]
            with self.tracer.span(f"perfbench.check.{name}", "check"):
                rec.update(check(out))
            if rec.get("error") is None:
                d = self.digests.setdefault(key, rec["digest"])
                if d != rec["digest"]:
                    rec["error"] = f"digest {rec['digest']} != {d} of an earlier repetition"
            rec["ok"] = rec["error"] is None
        except Exception as e:  # an exception counts the operation as failed
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            rec.setdefault("wall", 0.0)
        (self.ops if timed else self.warm_ops).append(rec)

    def check_earlier_runs(self, work: str) -> None:
        """Compare every checked operation's digest with the one an earlier
        run of the same workload and seed recorded, and record new ones.  A
        mismatch fails the operation."""
        path = os.path.join(work, "digests", f"{self.name}-{self.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        known = {}
        if os.path.exists(path):
            with open(path) as fh:
                known = json.load(fh)
        for o in self.warm_ops + self.ops:
            if not o["ok"]:
                continue
            prev = known.setdefault(o["key"], o["digest"])
            if prev != o["digest"]:
                o["ok"] = False
                o["error"] = f"digest {o['digest']} differs from {prev} of an earlier run with this seed"
        with open(path, "w") as fh:
            json.dump(known, fh, indent=0, sort_keys=True)

    def setup(self):
        raise NotImplementedError

    def cycle(self, i: int, timed: bool = True):
        raise NotImplementedError


class _CrawlWorkload(Workload):
    """Shared epoch driver and crawl-log check of the two crawl workloads."""

    def _crawl(self, cfg, resume):
        from webarchive_discovery_spark.plans import crawl

        inp = self.inputs
        return crawl.run_crawl(self.spark, inp["records"], inp["seeds"], inp["link_graph"],
                               inp["robots_rules"], cfg, resume=resume)

    def check_log(self, out) -> dict:
        """fetch_seq is contiguous 1..n over the rows given one, every
        candidate has exactly one (known) status, and the digest of
        (epoch, url_key, status, fetch_seq)."""
        from pyspark.sql import functions as F

        log = out["crawl_log"]
        aggs = [
            F.countDistinct("url_hash").alias("keys"),
            F.count("fetch_seq").alias("seq_n"),
            F.countDistinct("fetch_seq").alias("seq_distinct"),
            F.min("fetch_seq").alias("seq_min"),
            F.max("fetch_seq").alias("seq_max"),
            F.sum(F.when(F.col("status").isin(*STATUSES), 0).otherwise(1)).alias("bad"),
        ] + [F.sum((F.col("status") == s).cast("long")).alias(s) for s in STATUSES]
        row = log.agg(*aggs, *spark_digest_cols(log, ["epoch", "url_key", "status", "fetch_seq"])).collect()[0]
        n = row["_n"]
        counts = {s: int(row[s] or 0) for s in STATUSES}
        err = None
        if n == 0:
            err = "empty crawl log"
        elif row["keys"] != n:
            err = f"{n} crawl-log rows for {row['keys']} candidates"
        elif row["bad"]:
            err = f"{row['bad']} rows with an unknown status"
        elif row["seq_n"] and not (row["seq_distinct"] == row["seq_n"] and row["seq_min"] == 1
                                   and row["seq_max"] == row["seq_n"]):
            err = (f"fetch_seq not contiguous: n={row['seq_n']} distinct={row['seq_distinct']} "
                   f"range={row['seq_min']}..{row['seq_max']}")
        return {"rows": int(n), "statuses": counts, "error": err,
                "digest": stats.combine(n, row["_hi"], row["_lo"])}


class FrontierBulk(_CrawlWorkload):
    """One ``run_crawl`` epoch over a large raw frontier, repeated on the
    same input: canonicalize, url_hash dedup, robots, the per-host window
    and ``global_sequence`` carry the work; the seen set is empty and there
    is no checkpoint."""

    name = "frontier_bulk"
    warmup_cycles = 1
    nominal_cycle_s = 7.0

    def setup(self):
        with self.tracer.span("inputs.gen", "setup"):
            self.inputs = inputs.frontier_bulk(self.spark, self.seed)
        self.info["raw_urls"] = self.inputs["rows"]
        for i in range(self.warmup_cycles):
            self.cycle(i, timed=False)

    def cycle(self, i, timed=True):
        from webarchive_discovery_spark.plans.crawl import CrawlConfig

        cfg = CrawlConfig(epochs=1, host_budget=inputs.BULK_HOST_BUDGET)
        self._op(i, "epoch0", "epoch", lambda: self._crawl(cfg, False), self.check_log, timed)


class CrawlEpochs(_CrawlWorkload):
    """A multi-epoch crawl of the ``sources.frontier_data`` world, one
    ``run_crawl(..., resume=True)`` call per epoch, checkpointed, with the
    seen filter at its ``CrawlConfig`` default."""

    name = "crawl_epochs"
    warmup_cycles = 1
    nominal_cycle_s = 6.0

    def setup(self):
        self.ckpt = os.path.join(self.run_dir, "checkpoint")
        shutil.rmtree(self.ckpt, ignore_errors=True)
        with self.tracer.span("inputs.gen", "setup"):
            self.inputs = inputs.crawl_world(self.spark, self.seed)
        self.info["records"] = self.inputs["rows"]
        for i in range(self.warmup_cycles):
            self.cycle(i, timed=False)

    def cycle(self, i, timed=True):
        from webarchive_discovery_spark.plans.crawl import CrawlConfig

        cfg = CrawlConfig(epochs=i + 1, host_budget=inputs.WORLD_HOST_BUDGET, checkpoint_dir=self.ckpt)
        before = dir_bytes(self.ckpt) if os.path.isdir(self.ckpt) else 0

        def check(out):
            res = self.check_log(out)
            res["ckpt_bytes"] = dir_bytes(self.ckpt) - before
            return res

        self._op(i, f"epoch{i}", "epoch", lambda: self._crawl(cfg, True), check, timed)


class GateMix(Workload):
    """A fixed list of gates from ``plans.gate_queries``, each materialized
    to the noop sink, with the cache cleared, staging released and a JVM GC
    between gates.  The first warm-up pass collects each result and
    compares it with its DuckDB oracle."""

    name = "gate_mix"
    warmup_cycles = 1  # the collecting pass that checks the oracles
    nominal_cycle_s = 5.0

    def setup(self):
        self.table_dir = os.path.join(self.run_dir, "tables")
        with self.tracer.span("inputs.gen", "setup"):
            self.table_rows = inputs.gate_tables(self.table_dir)
        self.info["tables"] = self.table_rows
        self.oracle_rows = {}
        self.oracle_failures = []
        self._oracle_pass()

    def _fences(self):
        from webarchive_discovery_spark.operators import frontier

        with self.tracer.span("perfbench.fences", "fence"):
            self.spark.catalog.clearCache()
            frontier.release_staging()
            self.spark.sparkContext._jvm.System.gc()

    def _oracle_pass(self):
        """Warm-up pass 0: collect every gate and compare it with its DuckDB
        oracle (``scripts/check_correctness.compare``) where one exists."""
        import sys

        import duckdb

        from webarchive_discovery_spark.plans import gate_queries

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
        from check_correctness import compare

        con = duckdb.connect()
        for t in self.table_rows:
            path = os.path.join(self.table_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

        for gate, _ in GATES:
            self._fences()

            def run(gate=gate):
                return gate_queries.QUERIES[gate](self.spark, self.table_dir).toPandas()

            def check(pdf, gate=gate):
                err = None
                if gate in gate_queries.ORACLES:
                    err = compare(pdf, con.execute(gate_queries.ORACLES[gate]).fetchdf())
                    if err:
                        self.oracle_failures.append(gate)
                        err = f"oracle: {err}"
                self.oracle_rows[gate] = len(pdf)
                return {"rows": len(pdf), "error": err, "digest": f"rows={len(pdf)}"}

            self._op(0, f"oracle.{gate}", f"gate.{gate}", run, check, timed=False)
        con.close()

    def cycle(self, i, timed=True):
        from pyspark.sql import Observation

        from webarchive_discovery_spark.plans import gate_queries

        for gate, table in GATES:
            self._fences()
            obs = Observation()

            def run(gate=gate, obs=obs):
                with self.tracer.span(f"plans.gate_queries.{gate}", "build"):
                    df = gate_queries.QUERIES[gate](self.spark, self.table_dir)
                df.observe(obs, *spark_digest_cols(df, df.columns)).write.format("noop").mode("overwrite").save()
                return obs

            def check(obs, gate=gate, table=table):
                m = obs.get
                n = int(m["_n"])
                err = None
                if gate in self.oracle_rows and n != self.oracle_rows[gate]:
                    err = f"{n} rows, the collected pass had {self.oracle_rows[gate]}"
                return {"rows": n, "input_rows": self.table_rows[table], "error": err,
                        "digest": stats.combine(n, m["_hi"] or 0, m["_lo"] or 0)}

            self._op(i, gate, f"gate.{gate}", run, check, timed)


WORKLOADS = {w.name: w for w in (FrontierBulk, CrawlEpochs, GateMix)}
