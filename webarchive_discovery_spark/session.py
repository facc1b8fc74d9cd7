"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling on,
Arrow batching for the vectorized UDF hot path) while remaining correct on
``local[N]`` test runs.  Shuffle partitions default to the local core count —
on a real cluster set ``spark.sql.shuffle.partitions`` ~ 2-3× total cores via
``--conf`` (AQE coalesces down from there).
"""

from __future__ import annotations

import functools
import os
import threading
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession


def column_memo(maxsize: int):
    """``lru_cache`` for builders of Column trees, keyed also by the live
    py4j gateway: a Column holds JVM ids of the gateway it was built on, and
    a restarted gateway must not be handed them."""

    def decorate(fn):
        cached = functools.lru_cache(maxsize)(lambda _gw, *a, **k: fn(*a, **k))
        return functools.wraps(fn)(lambda *a, **k: cached(SparkContext._gateway, *a, **k))

    return decorate


# id(session) -> [open static_plans scopes, AQE value the first one read]
_STATIC_SCOPES: dict[int, list] = {}
_STATIC_LOCK = threading.Lock()


@contextmanager
def static_plans(spark: SparkSession):
    """Temporarily disable AQE around an iterative loop and restore it after.

    Under AQE every exchange materializes as its own stage-job; for tiny
    fixed-shape per-round plans (connected components, GD/Lloyd iterations)
    that scheduling overhead dominates — measured ~5 jobs/round vs 1 with
    static planning, at identical results.  Use ONLY around loops whose
    round shape is fixed and whose key distributions are bounded by
    construction (capped band buckets, <=`buckets` model keys, n_lists x dim
    aggregate keys); everything else keeps the session's adaptive planning,
    including AQE skew-join handling.

    Scopes on one session may overlap (concurrent queries): AQE stays off
    while any of them is open, and the last one to close restores the value
    the first one read."""
    key = id(spark)
    with _STATIC_LOCK:
        scope = _STATIC_SCOPES.get(key)
        if scope is None:
            scope = _STATIC_SCOPES[key] = [
                0, spark.conf.get("spark.sql.adaptive.enabled", "true")]
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        scope[0] += 1
    try:
        yield
    finally:
        with _STATIC_LOCK:
            scope[0] -= 1
            if scope[0] == 0:
                del _STATIC_SCOPES[key]
                spark.conf.set("spark.sql.adaptive.enabled", scope[1])


def get_spark(
    app_name: str = "webarchive-discovery-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master != "submit":
        # master="submit" leaves the master to spark-submit / the cluster
        # manager (setting it in code would override --master on a real
        # cluster); anything else pins it, defaulting to local[$CPUS].
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Generated-class cache: the default 100 entries cycle completely
        # within one multi-job pipeline (a single composed query generates
        # dozens of classes), so janino re-COMPILES every heavy projection on
        # every execution — driver thread dumps during the r6 bench showed
        # CodeGenerator.compile as the dominant driver-side cost (~0.5-0.9 s
        # per run of the big expression ladders).  2000 entries cover the
        # whole query catalog's footprint.  Scale-neutral: this is a
        # driver-memory knob (cached bytecode), and any long-running driver
        # executing a query library this size benefits identically;
        # SPARK_CODEGEN_CACHE overrides for constrained drivers.
        .config("spark.sql.codegen.cache.maxEntries",
                os.environ.get("SPARK_CODEGEN_CACHE", "2000"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill files: prefer tmpfs.  On a real cluster every executor
    # has node-local SSDs whose aggregate bandwidth scales with the executor
    # count; on this single VM the default /tmp is ONE shared disk, which
    # would serialize all shuffle I/O behind a fixed bandwidth ceiling —
    # an artifact of the sandbox, not of the plan.
    # Per-process subdir so concurrent sessions never share (or delete) each
    # other's live shuffle files; cleaned at JVM exit via the deleteOnExit
    # behavior of spark.local.dir subdirs plus an atexit backstop.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and master.startswith("local") and os.path.isdir("/dev/shm"):
        # size guard: tmpfs spill space competes with the memory spilling is
        # meant to relieve — fall back to disk when /dev/shm is small
        free = os.statvfs("/dev/shm")
        if free.f_frsize * free.f_bavail >= 16 * 1024**3:
            local_dir = f"/dev/shm/spark-local-{os.getpid()}"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
        import atexit
        import shutil

        atexit.register(lambda d=local_dir: shutil.rmtree(d, ignore_errors=True) if d.startswith("/dev/shm/spark-local-") else None)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def values_df(spark, rows, schema_ddl: str):
    """Tiny config dimension as a TRUE LocalRelation (VALUES SQL).

    PySpark's ``createDataFrame`` parallelizes local rows into a
    defaultParallelism-partition Python RDD: every derivation over a 4-row
    config table then runs 32-task stages and every broadcast build costs a
    full job (measured 0.3-0.6 s each on the annotation scopes).  A VALUES
    relation is driver-local — broadcast hash relations build without a
    single task.  Supports str/int/float/bool/None/datetime/str-list cells
    (non-finite floats included; datetimes keep microseconds); column types
    are pinned by the DDL casts on the first row."""
    import datetime as _dt
    import math

    names_types = [c.strip().rsplit(" ", 1) for c in _split_ddl(schema_ddl)]

    def cell(v, typ):
        if v is None:
            return f"CAST(NULL AS {typ})"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float) and not math.isfinite(v):
            # a bare ``inf``/``nan`` parses as a column name
            text = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
            return f"CAST('{text}' AS DOUBLE)"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(cell(x, "STRING") for x in v) + ")"
        raise TypeError(f"unsupported VALUES cell {type(v)}")

    rendered = []
    for r in rows:
        rendered.append(
            "(" + ", ".join(
                f"CAST({cell(v, t)} AS {t})"
                for v, (_, t) in zip(r, names_types)
            ) + ")"
        )
    alias = ", ".join(n for n, _ in names_types)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rendered)} AS t({alias})"
    )


def _split_ddl(ddl: str) -> list[str]:
    """Split a DDL column list on top-level commas (array<...> safe)."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur)); cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out
