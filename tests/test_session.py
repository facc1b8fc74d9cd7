"""session.values_df: VALUES-literal rendering of driver-side config rows."""

import datetime as dt
import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from webarchive_discovery_spark.session import static_plans, values_df


def test_values_df_non_finite_floats_and_subsecond_timestamps(spark):
    """Non-finite doubles render as their SQL spellings (a bare ``inf`` is
    an unresolved column), timestamps keep their microseconds, and finite
    doubles round-trip exactly."""
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    rows = [
        (0, float("inf"), ts),
        (1, float("-inf"), None),
        (2, float("nan"), None),
        (3, 0.1, None),
        (4, -1.2345678901234567e-300, None),
    ]
    df = values_df(spark, rows, "i int, x double, ts timestamp")
    got = {
        r["i"]: (r["x"], r["ts_text"])
        for r in df.select(
            "i", "x", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_text")
        ).collect()
    }
    assert got[0] == (float("inf"), "2024-01-02 03:04:05.678901")
    assert got[1][0] == float("-inf")
    assert got[2][0] != got[2][0]  # NaN
    assert got[3][0] == 0.1
    assert got[4][0] == -1.2345678901234567e-300


def test_overlapping_static_plans_scopes_restore_aqe(spark):
    """Two overlapping ``static_plans`` scopes on one session (A enters,
    B enters, A exits, B exits): AQE stays off until the last scope
    closes, which restores the value the first scope read."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    a, b = static_plans(spark), static_plans(spark)
    try:
        a.__enter__()
        b.__enter__()
        assert spark.conf.get(key) == "false"
        a.__exit__(None, None, None)
        assert spark.conf.get(key) == "false"  # B is still open
        b.__exit__(None, None, None)
        assert spark.conf.get(key) == before
    finally:
        spark.conf.set(key, before)  # the shared session outlives a failure


_GATEWAY_RESTART = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    from pyspark import SparkContext
    from webarchive_discovery_spark.operators import dedup
    from webarchive_discovery_spark.session import get_spark

    def candidates():
        spark = get_spark("gateway-restart", master="local[1]", shuffle_partitions=1)
        df = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
            "doc_id long, txt string")
        n = dedup.minhash_lsh_candidates(df, "txt", "doc_id").count()
        spark.stop()
        return n

    first = candidates()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None
    print("candidates", first, candidates())
""")


def test_column_memos_survive_gateway_restart():
    """A memoized Column tree must not outlive its py4j gateway: after the
    session stops and the gateway restarts, a fresh session rebuilds the
    MinHash expressions instead of reusing dangling JVM ids.  Runs in a
    subprocess so the shared test session is untouched."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _GATEWAY_RESTART, root],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "candidates 6 6" in out.stdout, out.stdout


def test_static_plans_scopes_under_threads(spark):
    """Eight threads (more than the cores) open and close ``static_plans``
    scopes on one session at a short switch interval: every open scope
    sees AQE off, and the session's value is back once all have closed."""
    import threading
    import time

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    seen_on = []

    def work():
        for _ in range(25):
            with static_plans(spark):
                time.sleep(0.001)  # let the other scopes open and close
                if spark.conf.get(key) != "false":
                    seen_on.append(True)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        got = spark.conf.get(key)
        spark.conf.set(key, before)  # the shared session outlives a failure
    assert not seen_on
    assert got == before
