"""session.values_df: VALUES-literal rendering of driver-side config rows."""

import datetime as dt

from pyspark.sql import functions as F

from webarchive_discovery_spark.session import values_df


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
