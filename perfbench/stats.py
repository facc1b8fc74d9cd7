"""Pure helpers for the benchmark: order statistics, interval arithmetic,
span self time, job-to-span attribution and the digest format.

Nothing here touches Spark, so every function is unit-tested in
``perfbench/tests``.
"""

from __future__ import annotations

import statistics


def median(values):
    """Median of a non-empty sequence (mean of the two middle values)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def summary(values):
    """``{"n", "p50", "min", "max"}``: the sample count is stated next to
    the median.  A run has too few cycles for any higher percentile to
    have ten samples beyond it."""
    return {"n": len(values), "p50": median(values), "min": min(values), "max": max(values)}


def iqr_share(values):
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)`` (the exclusive method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def merge_intervals(intervals):
    """Union of ``(start, end)`` intervals as a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1][1] = e
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo=None, hi=None):
    """Total length of the union of ``intervals``, clipped to [lo, hi]."""
    total = 0.0
    for s, e in merge_intervals(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            total += e - s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the time its direct
    children cover (children are clipped to the parent)."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["id"]] = dur - covered(kids.get(s["id"], []), s["start"], s["end"])
    return out


def unattributed_share(spans, op_ids, wrappers):
    """Share of the operations' wall that no layer accounts for: the self
    time of each operation span plus that of every span under it named in
    ``wrappers`` (spans that only hold loop control, such as ``run_crawl``).
    ``1 - share`` is the traced run's coverage."""
    self_t = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    ops = set(op_ids)
    wall = sum(by_id[o]["end"] - by_id[o]["start"] for o in ops)
    loose = sum(self_t[o] for o in ops)
    for s in spans:
        if s["name"] in wrappers and s["id"] not in ops and ops.intersection(ancestors(by_id, s["id"])):
            loose += self_t[s["id"]]
    return loose / wall if wall else 1.0


def innermost_span(spans, t):
    """Id of the deepest span open at time ``t`` (start <= t < end), or None.
    Spans come from one thread, so open spans nest; the deepest one is the
    latest-starting span that contains ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["id"]


def ancestors(spans_by_id, sid):
    """``sid`` and the ids of all spans enclosing it."""
    out = []
    while sid is not None:
        out.append(sid)
        sid = spans_by_id[sid]["parent"]
    return out


def combine(count, hi_sum, lo_sum):
    """Digest string from a row count and the sums of the high and low 32
    bits of per-row 64-bit hashes.  Sums commute, so the digest is
    independent of row order and partitioning; splitting the hash keeps
    both sums exact in a 64-bit accumulator."""
    return f"{int(count)}:{int(hi_sum)}:{int(lo_sum)}"
