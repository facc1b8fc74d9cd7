"""Tests for the benchmark's own helpers (the digest tests start a small
local Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import layers, stats, trace


def test_median_odd_even_and_empty():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_summary_states_sample_count():
    s = stats.summary([2.0, 1.0, 3.0, 10.0])
    assert s["n"] == 4
    assert s["p50"] == 2.5
    assert (s["min"], s["max"]) == (1.0, 10.0)


def test_iqr_share_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.3]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def test_merge_and_cover_intervals():
    assert stats.merge_intervals([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.covered([(0, 10)], lo=2, hi=5) == 3


def _span(i, start, end, parent=None, name="s"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: covered once
        _span(3, 2.0, 3.0, parent=1),
        _span(4, 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    self_t = stats.self_times(spans)
    assert self_t[0] == pytest.approx(10 - 5 - 1)
    assert self_t[1] == pytest.approx(3 - 1)
    assert self_t[3] == pytest.approx(1)


def test_self_times_of_a_nested_tree_add_up_to_the_root():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, parent=0),
             _span(2, 2.0, 3.0, parent=1), _span(3, 5.0, 9.0, parent=0)]
    assert sum(stats.self_times(spans).values()) == pytest.approx(10)


def test_jobs_go_to_the_innermost_open_span():
    spans = [
        _span(0, 0.0, 10.0, name="op"),
        _span(1, 1.0, 5.0, parent=0, name="plans.crawl.run_crawl"),
        _span(2, 2.0, 3.0, parent=1, name="plans.crawl.localCheckpoint"),
        _span(3, 6.0, 7.0, parent=0, name="plans.checkpoint.write"),
    ]
    got = [stats.innermost_span(spans, t) for t in (0.5, 2.5, 3.0, 6.5, 10.0)]
    assert got == [0, 2, 1, 3, None]
    by_id = {s["id"]: s for s in spans}
    assert stats.ancestors(by_id, 2) == [2, 1, 0]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield session
    session.stop()


def _spark_digest(df, cols):
    from perfbench.workloads import spark_digest_cols

    row = df.agg(*spark_digest_cols(df, cols)).collect()[0]
    return stats.combine(row["_n"], row["_hi"], row["_lo"])


def test_digest_is_order_insensitive_and_content_sensitive(spark):
    rows = [(0, f"k{i}", "fetched", i + 1) for i in range(200)]
    cols = ["epoch", "url_key", "status", "fetch_seq"]
    df = spark.createDataFrame(rows, "epoch int, url_key string, status string, fetch_seq long")
    base = _spark_digest(df, cols)
    assert base.startswith("200:")
    assert _spark_digest(df.repartition(7).orderBy("url_key", ascending=False), cols) == base
    changed = df.where("url_key != 'k5'").unionByName(
        spark.createDataFrame([(0, "k5", "delayed", None)], df.schema))
    assert _spark_digest(changed, cols) != base
    assert _spark_digest(df.where("url_key != 'k5'"), cols) != base


def test_digest_hashes_map_columns(spark):
    df = spark.sql("SELECT id, map('k', id) AS m FROM range(10)")
    assert _spark_digest(df, ["id", "m"]) != _spark_digest(df.selectExpr("id", "map('k', 0L) AS m"), ["id", "m"])


def test_parse_metric_reads_totals_and_units():
    assert trace.parse_metric("1.2 s") == pytest.approx(1.2)
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n350 ms (1 ms, 2 ms, 300 ms (stage 3.0: task 7))") \
        == pytest.approx(0.35)
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 KiB, ...)") == 2 * 1024 ** 2
    assert trace.parse_metric("12,345") == 12345


def test_module_of_names_engine_and_benchmark_files():
    assert trace.module_of("webarchive_discovery_spark/plans/crawl.py") == "plans.crawl"
    assert trace.module_of("perfbench/workloads.py") == "perfbench.workloads"


def test_unattributed_share_counts_wrapper_self_time():
    spans = [
        _span(0, 0.0, 10.0, name="epoch"),
        _span(1, 0.5, 10.0, parent=0, name="plans.crawl.run_crawl"),
        _span(2, 1.0, 4.0, parent=1, name="operators.frontier.global_sequence"),
        _span(3, 5.0, 8.0, parent=1, name="plans.checkpoint.write"),
        _span(4, 11.0, 12.0, name="perfbench.check.epoch"),  # outside every operation
    ]
    wrappers = {"plans.crawl.run_crawl"}
    # op self time 0.5 plus run_crawl self time 9.5 - 6 = 3.5
    assert stats.unattributed_share(spans, [0], wrappers) == pytest.approx(0.4)
    assert stats.unattributed_share(spans, [0], set()) == pytest.approx(0.05)


def _gate_wl(ops):
    from types import SimpleNamespace

    return SimpleNamespace(name="gate_mix", ops=[
        {"cycle": c, "key": k, "ok": ok, "wall": w, "input_rows": 10} for c, k, ok, w in ops])


def test_a_cycle_with_a_failed_operation_is_left_out():
    from perfbench import run

    wl = _gate_wl([(1, "a", True, 1.0), (1, "b", True, 2.0),
                   (2, "a", True, 1.2), (2, "b", False, 0.0),
                   (3, "a", True, 1.4), (3, "b", True, 2.2)])
    assert run.cycle_walls(wl) == {1: 3.0, 3: pytest.approx(3.6)}
    m = run.end_to_end(wl, 5.0, 100.0)
    assert m["gates_s"][0] == pytest.approx(1.2 + 2.1)
    assert m["urls_per_s"][0] == pytest.approx(40 / 6.6)


def test_no_completed_cycle_leaves_out_the_time_metrics():
    from perfbench import run

    m = run.end_to_end(_gate_wl([(1, "a", False, 0.0), (2, "a", False, 0.0)]), 5.0, 100.0)
    assert m == {"setup_s": (5.0, "s"), "peak_rss_mb": (100.0, "MB")}


def test_every_gate_has_both_per_layer_metrics():
    from perfbench.workloads import GATES

    names = [m[0] for m in layers.metric_list(g for g, _ in GATES)]
    assert len(names) == len(set(names))
    for g, _ in GATES:
        assert f"gate.{g}_s" in names and f"gate.{g}.jobs" in names


def test_gate_tables_match_the_measured_test_tables(tmp_path):
    """The generated gate tables keep the figures recorded from the
    engine's seed-42 sf0.01 test tables."""
    from perfbench import inputs, table_stats

    with open(os.path.join(os.path.dirname(__file__), "..", "evidence", "gate_tables_measured.json")) as fh:
        want = json.load(fh)["sf0.01"]
    inputs.gate_tables(str(tmp_path))
    got = table_stats.measure(str(tmp_path))
    for table, figures in want.items():
        for name, w in figures.items():
            g = got[table][name]
            if isinstance(w, dict) and "p50" in w:  # quantiles
                for q in ("p25", "p50", "p75"):
                    assert g[q] == pytest.approx(w[q], rel=0.15), (table, name, q)
            elif isinstance(w, dict):  # category shares
                assert g.keys() == w.keys(), (table, name)
                for k in w:
                    assert g[k] == pytest.approx(w[k], abs=0.04), (table, name, k)
            elif isinstance(w, float):
                assert g == pytest.approx(w, abs=0.05), (table, name)
            else:
                assert g == w, (table, name)
