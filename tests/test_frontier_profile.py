"""Smoke test of ``scripts/frontier_profile.py``: its job builder builds the
production fetch-scheduling plan at every cut, and the full job yields a
contiguous fetch sequence."""

import importlib.util
import os

import pytest

from .test_plan_quality import SF
_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts", "frontier_profile.py")


@pytest.fixture(scope="module")
def profile():
    spec = importlib.util.spec_from_file_location("frontier_profile", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_job_builds_production_schedule(spark, profile):
    urls = profile.frontier_urls(spark, SF, replication=1, partitions=4)
    rules = profile.robots_rules(spark, replication=1)
    window = profile.build(urls, rules, "window")
    assert {"host_slot", "status", "priority_band"} <= set(window.columns)

    rows = profile.build(urls, rules, num_partitions=4).select("status", "fetch_seq").collect()
    seqs = sorted(r["fetch_seq"] for r in rows if r["status"] == "fetched")
    assert seqs == list(range(1, len(seqs) + 1)) and seqs
    assert all(r["fetch_seq"] is None for r in rows if r["status"] != "fetched")
    assert {r["status"] for r in rows} >= {"fetched", "robots_denied"}
