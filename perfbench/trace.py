"""Traced runs: spans around each layer's public functions, and the Spark
status stores read after the timed window.

Spans are recorded by wrapping, at run time and from this file only, the
functions each layer exposes, under the names their callers look them up
by (``plans.crawl`` binds the Bloom functions at import, so that binding is
wrapped), plus pyspark's action methods, each named after the module of the
engine frame that called it.  Nothing in the engine package changes.

A span is ``{id, name, kind, start, end, parent, run}`` (wall-clock seconds).
Spark jobs, stages and SQL executions are attributed to the innermost span
open when they were submitted.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

from . import stats

_PYSPARK_DIR = None


class Tracer:
    """Span recorder.  Disabled tracers record nothing and wrap nothing."""

    def __init__(self, enabled: bool, run_id: str, root: str):
        self.enabled = enabled
        self.run_id = run_id
        self.root = root
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, kind: str = "layer", **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "kind": kind,
               "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    # -- wrapping ------------------------------------------------------------

    def _patch(self, owner, attr, wrapper):
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, kind: str = "layer"):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, kind):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def wrap_action(self, owner, attr: str):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            module, site = self.caller()
            with self.span(f"{module}.{attr}", "action", site=site):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def caller(self) -> tuple[str, str]:
        """(module, file:line) of the first frame outside pyspark and this
        file — the engine (or benchmark) code that triggered the action."""
        global _PYSPARK_DIR
        if _PYSPARK_DIR is None:
            import pyspark

            _PYSPARK_DIR = os.path.dirname(os.path.abspath(pyspark.__file__))
        here = os.path.abspath(__file__)
        f = sys._getframe(2)
        while f is not None:
            path = os.path.abspath(f.f_code.co_filename)
            if path != here and not path.startswith(_PYSPARK_DIR) and "pyspark.zip" not in path:
                break
            f = f.f_back
        if f is None:
            return "pyspark", "?"
        rel = os.path.relpath(path, self.root)
        return module_of(rel), f"{rel}:{f.f_lineno}"

    def install(self):
        """Wrap the layer entry points and the pyspark actions."""
        if not self.enabled:
            return
        from pyspark import RDD
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from webarchive_discovery_spark.operators import cuckoo, frontier
        from webarchive_discovery_spark.plans import checkpoint, crawl

        for attr in ("canonicalize_frontier", "robots_match", "priority_score"):
            self.wrap(frontier, attr, f"operators.frontier.{attr}", "build")
        self.wrap(frontier, "global_sequence", "operators.frontier.global_sequence")
        for attr in ("build_bloom", "build_bloom_shards"):
            self.wrap(crawl, attr, f"operators.bloom.{attr}")
        for attr in ("bloom_negative_filter", "bloom_negative_filter_sharded"):
            self.wrap(crawl, attr, f"operators.bloom.{attr}", "build")
        self.wrap(cuckoo, "build_cuckoo_shards", "operators.cuckoo.build_cuckoo_shards")
        self.wrap(cuckoo, "cuckoo_negative_filter_sharded",
                  "operators.cuckoo.cuckoo_negative_filter_sharded", "build")
        store = checkpoint.CheckpointStore
        for attr in ("write", "read", "read_merged", "latest"):
            self.wrap(store, attr, f"plans.checkpoint.{attr}")
        self.wrap(crawl, "run_crawl", "plans.crawl.run_crawl")
        for attr in ("_epoch_plan", "_fetch_simulate", "_membership"):
            self.wrap(crawl, attr, f"plans.crawl.{attr}", "build")
        for attr in ("collect", "take", "count", "toPandas", "localCheckpoint"):
            self.wrap_action(DataFrame, attr)
        for attr in ("save", "parquet"):
            self.wrap_action(DataFrameWriter, attr)
        self.wrap_action(RDD, "treeReduce")

    def uninstall(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str):
        import json

        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def module_of(relpath: str) -> str:
    """``webarchive_discovery_spark/plans/crawl.py`` -> ``plans.crawl``."""
    mod = relpath[:-3] if relpath.endswith(".py") else relpath
    mod = mod.replace(os.sep, ".")
    return mod.removeprefix("webarchive_discovery_spark.")


# -- status stores ---------------------------------------------------------


def _seq(jvm, scala_seq):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def parse_metric(text: str) -> float:
    """Value of an SQL metric as shown by the status store, in seconds for
    timings, bytes for sizes, and plain counts otherwise.  Multi-task
    metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.strip().splitlines()[-1]
    head = line.split("(")[0].strip()
    num, _, unit = head.partition(" ")
    scale = {"": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
             "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
    return float(num.replace(",", "")) * scale[unit.strip()]


_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas")


def read_status(spark, since: float) -> dict:
    """Jobs, stages and the Python/filter operator metrics of SQL
    executions submitted at or after ``since`` (epoch seconds)."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(jvm, store.jobsList(None)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or sub < since:
            continue
        jobs.append({"id": j.jobId(), "submitted": sub,
                     "completed": _opt_ms(j.completionTime()),
                     "stages": list(_seq(jvm, j.stageIds())), "tasks": j.numTasks()})
    stages = {}
    raw = store.stageList(jvm.java.util.ArrayList(), False, False,
                          gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for s in _seq(jvm, raw):
        sub = _opt_ms(s.submissionTime())
        if sub is None or sub < since:
            continue  # skipped stages never run
        stages[s.stageId()] = {
            "attempt": s.attemptId(), "tasks": s.numTasks(), "submitted": sub,
            "completed": _opt_ms(s.completionTime()) or sub,
            "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3, "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for e in _seq(jvm, sql.executionsList()):
        sub = e.submissionTime() / 1000.0
        if sub < since:
            continue
        values = sql.executionMetrics(e.executionId())
        graph = sql.planGraph(e.executionId())
        children = {}
        for edge in _seq(jvm, graph.edges()):
            children.setdefault(edge.toId(), []).append(edge.fromId())
        by_id = {n.id(): n for n in _seq(jvm, graph.allNodes())}
        nodes = []
        for nid, n in by_id.items():
            name = n.name()
            if name not in _PY_NODES and name != "Filter":
                continue
            desc = n.desc()
            source = None
            if name == "Filter":
                if "pythonUDF" not in desc and "maybe_seen" not in desc:
                    continue
                source = _python_source(by_id, children, nid)
            metrics = {}
            for m in _seq(jvm, n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append({"name": name, "desc": desc, "source": source, "metrics": metrics})
        executions.append({"id": e.executionId(), "submitted": sub, "nodes": nodes})
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _python_source(by_id, children, nid):
    """Description of the nearest Python node below plan node ``nid``: the
    UDF whose output a filter tests."""
    todo, seen = list(children.get(nid, [])), set()
    while todo:
        cid = todo.pop(0)
        if cid in seen or cid not in by_id:
            continue
        seen.add(cid)
        if by_id[cid].name() in _PY_NODES:
            return by_id[cid].desc()
        todo.extend(children.get(cid, []))
    return None


def task_skew(spark, stage_id: int, attempt: int) -> float:
    """max / median task duration of one stage."""
    sc = spark.sparkContext
    tasks = sc._jsc.sc().statusStore().taskList(stage_id, attempt, 100_000)
    durs = []
    for t in _seq(sc._jvm, tasks):
        d = t.duration()
        if d.isDefined():
            durs.append(float(d.get()))
    if not durs or stats.median(durs) <= 0:
        return 1.0
    return max(durs) / stats.median(durs)
