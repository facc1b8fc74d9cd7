"""Cuckoo filter (operators/cuckoo.py): no-false-negatives, FPR bound,
deletion, merge, load factor, and the sharded build/probe DataFrame path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webarchive_discovery_spark.operators import cuckoo as C


def _hashes(n, seed=7, lo=-(2**62), hi=2**62):
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi, size=n, dtype=np.int64)


def test_params_sizing():
    p = C.CuckooParams(n_capacity=10_000_000_000, fpr=1e-6, num_shards=1024)
    # f = ceil(log2(2*4/1e-6)) = 23 bits → fits the design point's ~24 b/URL
    assert p.fp_bits == 23
    # per-shard buckets: pow2 ≥ 1e10/1024/(4*0.95)
    assert p.num_buckets_per_shard & (p.num_buckets_per_shard - 1) == 0
    assert p.num_buckets_per_shard * 4 * 1024 >= 10_000_000_000
    with pytest.raises(ValueError):
        C.CuckooParams(n_capacity=10, num_shards=3)


def test_no_false_negatives_and_fpr():
    p = C.CuckooParams(n_capacity=60_000, fpr=1e-3, num_shards=1)
    f = C.CuckooFilter(p)
    members = _hashes(50_000, seed=1)
    assert f.add_hashes(members) == 0  # nothing dropped below capacity
    assert f.contains_hashes(members).all()  # NO false negatives
    non = _hashes(100_000, seed=2, lo=2**62, hi=2**63 - 1)  # disjoint range
    fpr = f.contains_hashes(non).mean()
    # theoretical ≈ 2b/2^f at full load; we are below full load — allow 3×
    assert fpr <= 3 * (2 * p.bucket_size / 2**p.fp_bits)


def test_load_factor_reachable():
    p = C.CuckooParams(n_capacity=40_000, fpr=1e-3, num_shards=1)
    f = C.CuckooFilter(p)
    assert f.add_hashes(_hashes(40_000, seed=3)) == 0
    assert f.load >= 0.55  # table sized pow2 ⇒ worst-case ~0.47–0.95 range


def test_deletion_keeps_remaining_members():
    p = C.CuckooParams(n_capacity=20_000, fpr=1e-4, num_shards=1)
    f = C.CuckooFilter(p)
    members = _hashes(10_000, seed=4)
    f.add_hashes(members)
    gone, kept = members[:5_000], members[5_000:]
    assert f.remove_hashes(gone) == 5_000
    # the contract that matters: remaining members NEVER go false-negative
    assert f.contains_hashes(kept).all()
    # and the deleted keys mostly disappear (residual hits are fp collisions)
    assert f.contains_hashes(gone).mean() < 0.01


def test_membership_insertion_order_independent():
    p = C.CuckooParams(n_capacity=8_000, fpr=1e-4, num_shards=1)
    members = _hashes(6_000, seed=5)
    a, b = C.CuckooFilter(p), C.CuckooFilter(p)
    a.add_hashes(members)
    b.add_hashes(members[::-1].copy())
    probes = _hashes(20_000, seed=6)
    assert (a.contains_hashes(probes) == b.contains_hashes(probes)).all()


def test_merge_is_union():
    p = C.CuckooParams(n_capacity=20_000, fpr=1e-4, num_shards=1)
    left, right = C.CuckooFilter(p), C.CuckooFilter(p)
    ml, mr = _hashes(4_000, seed=8), _hashes(4_000, seed=9)
    left.add_hashes(ml)
    right.add_hashes(mr)
    merged = left.merge(right)
    assert merged.contains_hashes(ml).all()
    assert merged.contains_hashes(mr).all()
    # originals untouched (merge is functional)
    assert not left.contains_hashes(mr).all()


def test_sharded_build_probe_exact_unseen(spark):
    p = C.CuckooParams(n_capacity=50_000, fpr=1e-4, num_shards=8)
    universe = spark.range(20_000).select(
        F.xxhash64(F.col("id")).alias("url_hash")
    )
    seen = universe.filter(F.col("url_hash") % 3 == 0)
    shards = C.build_cuckoo_shards(seen, "url_hash", p)
    assert shards.count() <= 8
    probed = C.cuckoo_negative_filter_sharded(universe, "url_hash", shards, p)
    # no false negatives: every truly-seen row is maybe_seen
    missed = probed.filter((F.col("url_hash") % 3 == 0) & ~F.col("maybe_seen"))
    assert missed.count() == 0
    # definite-unseen + exact verify reproduces the true unseen set
    definite = probed.filter(~F.col("maybe_seen")).select("url_hash")
    verified = (
        probed.filter(F.col("maybe_seen"))
        .select("url_hash")
        .join(seen, "url_hash", "left_anti")
    )
    got = definite.unionByName(verified).count()
    want = universe.join(seen, "url_hash", "left_anti").count()
    assert got == want


def test_fpr_holds_within_a_shard():
    """Sharding selects on hash mod num_shards (low bits).  Within one
    shard every raw hash shares those low bits, so a fingerprint taken from
    the RAW low bits would have log2(num_shards) constant bits and an FPR
    inflated by the same factor (~64x here).  The splitmix64 remix must keep
    the within-shard FPR at the advertised 2b/2^f."""
    p = C.CuckooParams(n_capacity=60_000 * 64, fpr=1e-3, num_shards=64)
    f = C.CuckooFilter(p)  # one shard's table
    shard = 37
    # members and probes all carry the same shard residue — the exact
    # population a shard's filter sees in production
    members = _hashes(50_000, seed=11) * 64 + shard
    assert f.add_hashes(members) == 0
    assert f.contains_hashes(members).all()
    non = _hashes(200_000, seed=12, lo=2**55, hi=2**61) * 64 + shard
    fpr = f.contains_hashes(non).mean()
    theory = 2 * p.bucket_size / 2**p.fp_bits
    assert fpr <= 5 * theory, (fpr, theory)  # the low-bit bug gives ~64x
