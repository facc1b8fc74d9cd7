"""Partitioned Bloom filter: zero false negatives (hard guarantee) and a
small-scale FPR audit of the parameter math (the 1e10/1e-6 design point is
parameterized through the same formulas)."""

import numpy as np
import pandas as pd
import pytest

from webarchive_discovery_spark.operators.bloom import (
    BloomParams,
    bloom_negative_filter,
    build_bloom,
)


def test_no_false_negatives_and_fpr(spark):
    params = BloomParams(n_capacity=20_000, fpr=1e-4, num_shards=8)
    rng = np.random.default_rng(3)
    members = rng.integers(-(2**62), 2**62, 20_000, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame({"url_hash": members}))
    bloom = build_bloom(df, "url_hash", params)
    assert bloom.contains_hashes(members).all()  # no false negatives, ever

    probes = rng.integers(-(2**62), 2**62, 200_000, dtype=np.int64)
    probes = np.setdiff1d(probes, members)
    fp = bloom.contains_hashes(probes).mean()
    # allow 5x the design FPR as audit slack at this small m
    assert fp <= 5 * params.fpr, f"observed FPR {fp}"


def test_distributed_build_and_probe(spark):
    params = BloomParams(n_capacity=10_000, fpr=1e-4, num_shards=8)
    df = spark.range(0, 5000).selectExpr("xxhash64(id) as url_hash")
    bloom = build_bloom(df, "url_hash", params)
    probed = bloom_negative_filter(df, "url_hash", bloom)
    # every member must probe positive regardless of partitioning
    assert probed.filter("NOT maybe_seen").count() == 0
    other = spark.range(100_000, 140_000).selectExpr("xxhash64(id) as url_hash")
    fp = bloom_negative_filter(other, "url_hash", bloom).filter("maybe_seen").count()
    assert fp / 40_000 <= 5 * params.fpr


def test_design_point_parameters():
    # the north-rule design point: FPR 1e-6 at 1e10 URLs — verify the math
    # without allocating: ~28.8 bits/URL, k≈20
    p = BloomParams(n_capacity=10_000_000_000, fpr=1e-6, num_shards=1024)
    total_bits = p.m_bits_per_shard * p.num_shards
    assert 28 <= total_bits / p.n_capacity <= 30
    assert 18 <= p.k_hashes <= 22
    # per-shard memory ~35 MB → executor-friendly broadcast granularity
    assert p.m_bits_per_shard / 8 / 1024 / 1024 < 64


def test_sharded_build_matches_broadcast(spark):
    """The distributed shard build/probe must agree bit-for-bit with the
    broadcast-tier PartitionedBloom on the same hashes."""
    from webarchive_discovery_spark.operators.bloom import (
        BloomParams,
        bloom_negative_filter_sharded,
        build_bloom,
        build_bloom_shards,
    )

    params = BloomParams(n_capacity=5000, fpr=1e-4, num_shards=8)
    seen = spark.range(2000).selectExpr("xxhash64(cast(id as string)) as url_hash")
    probe = spark.range(1500, 4000).selectExpr(
        "id", "xxhash64(cast(id as string)) as url_hash"
    )

    broadcast_bloom = build_bloom(seen, "url_hash", params)
    shards = build_bloom_shards(seen, "url_hash", params)
    assert shards.count() <= 8

    from webarchive_discovery_spark.operators.bloom import bloom_negative_filter

    a = {r["id"]: r["maybe_seen"] for r in
         bloom_negative_filter(probe, "url_hash", broadcast_bloom).collect()}
    b = {r["id"]: r["maybe_seen"] for r in
         bloom_negative_filter_sharded(probe, "url_hash", shards, params).collect()}
    assert a == b
    # negatives are definitive: every truly-seen id must be maybe_seen
    assert all(b[i] for i in range(1500, 2000))


@pytest.mark.parametrize("family", ["bloom", "cuckoo"])
def test_sharded_probe_empty_shard_is_unseen(spark, family):
    """The shared cogroup probe's empty-shard rules, for both filter
    families: with no shard built at all every row is definitely unseen;
    with some shards missing, rows routed to a missing shard are unseen
    while members of a built shard stay maybe_seen."""
    from webarchive_discovery_spark.operators import bloom as B
    from webarchive_discovery_spark.operators import cuckoo as C

    if family == "bloom":
        params = B.BloomParams(n_capacity=100, fpr=1e-3, num_shards=4)
        build, probe = B.build_bloom_shards, B.bloom_negative_filter_sharded
    else:
        params = C.CuckooParams(n_capacity=1_000, fpr=1e-3, num_shards=4)
        build, probe = C.build_cuckoo_shards, C.cuckoo_negative_filter_sharded

    def run(seen_hashes, probe_hashes):
        seen = spark.createDataFrame([(h,) for h in seen_hashes], "url_hash long")
        shards = build(seen, "url_hash", params)
        rows = spark.createDataFrame([(h,) for h in probe_hashes], "url_hash long")
        return {r["url_hash"]: r["maybe_seen"] for r in
                probe(rows, "url_hash", shards, params).collect()}

    assert run([], range(100)) == {h: False for h in range(100)}
    # only shard 0 is built; 5, 6 and 7 route to the missing shards 1-3
    assert run([4], [4, 5, 6, 7]) == {4: True, 5: False, 6: False, 7: False}


def test_shard_scaffold_declares_eval_type(spark):
    """The shared shard build declares full type hints, so Spark infers the
    grouped-map eval type without a UserWarning on every build."""
    import warnings

    from webarchive_discovery_spark.operators import bloom as B
    from webarchive_discovery_spark.operators import cuckoo as C

    hashes = spark.range(10).selectExpr("id as url_hash")
    bp = B.BloomParams(n_capacity=100, fpr=1e-3, num_shards=4)
    cp = C.CuckooParams(n_capacity=100, fpr=1e-3, num_shards=4)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        shards = B.build_bloom_shards(hashes, "url_hash", bp)
        B.bloom_negative_filter_sharded(hashes, "url_hash", shards, bp)
        shards = C.build_cuckoo_shards(hashes, "url_hash", cp)
        C.cuckoo_negative_filter_sharded(hashes, "url_hash", shards, cp)


def test_builds_skip_null_hashes(spark):
    """A NULL hash in the seen-set is never seen by the exact join, so the
    shared shard build drops it: the broadcast Bloom build and the cuckoo
    build both succeed and keep every non-NULL member."""
    from webarchive_discovery_spark.operators import cuckoo as C

    seen = spark.createDataFrame([(11,), (None,), (-7,)], "url_hash long")
    members = np.array([11, -7], dtype=np.int64)
    bloom = build_bloom(seen, "url_hash", BloomParams(100, fpr=1e-3, num_shards=4))
    assert bloom.contains_hashes(members).all()
    cparams = C.CuckooParams(100, fpr=1e-3, num_shards=4)
    shards = C.build_cuckoo_shards(seen, "url_hash", cparams)
    probe = spark.createDataFrame([(11,), (-7,)], "url_hash long")
    assert all(r["maybe_seen"] for r in
               C.cuckoo_negative_filter_sharded(probe, "url_hash", shards, cparams).collect())


def test_seen_filters_sized_from_the_membership_set():
    """``sized_params`` (pure numpy, no Spark): FPR 1e-6 and capacity n at
    every seen-set size, the fewest power-of-two shards ≥ the parallelism
    that keep a shard within the byte budget, the broadcast Bloom tier up
    to 1e9 URLs and the sharded tier at the 1e10 design point; a Bloom sized
    for its members holds the FPR bound, and a sized cuckoo drops no key on
    either side of a bucket boundary."""
    from webarchive_discovery_spark.operators import cuckoo as C
    from webarchive_discovery_spark.operators.bloom import (
        SHARD_MAX_BYTES,
        PartitionedBloom,
        shard_bits,
        sized_params,
    )
    from webarchive_discovery_spark.plans.crawl import _BLOOM_BROADCAST_MAX_BYTES

    assert _BLOOM_BROADCAST_MAX_BYTES == 4 << 30
    for n in (1, 300, 10**6, 10**9, 10**10):
        for family in (BloomParams, C.CuckooParams):
            p = sized_params(family, n, 4)
            assert (p.n_capacity, p.fpr) == (n, 1e-6)
            assert p.num_shards >= 4 and p.num_shards & (p.num_shards - 1) == 0
            assert p.shard_bytes <= SHARD_MAX_BYTES
            assert p.num_shards == 4 or (
                family(n, 1e-6, p.num_shards // 2).shard_bytes > SHARD_MAX_BYTES)
        bp = sized_params(BloomParams, n, 4)
        total = bp.shard_bytes * bp.num_shards
        assert (total <= _BLOOM_BROADCAST_MAX_BYTES) == (n <= 10**9), (n, total)
    # far fewer members than whole-word shards: k stays at the optimum
    for parallelism in (4, 64):
        assert sized_params(BloomParams, 1, parallelism).k_hashes <= 20
    design = sized_params(BloomParams, 10**10, 4)
    assert design.num_shards == 1024 and 35e6 <= design.shard_bytes < 36e6  # ~35 MB

    rng = np.random.default_rng(5)
    members = rng.integers(-(2**62), 2**62, 20_000, dtype=np.int64)
    params = sized_params(BloomParams, len(members), 4)
    shard_of = members.astype(np.uint64) % np.uint64(params.num_shards)
    bloom = PartitionedBloom(params, np.stack([
        shard_bits(members[shard_of == s], params) for s in range(params.num_shards)
    ]))
    assert bloom.contains_hashes(members).all()
    non = np.setdiff1d(rng.integers(-(2**62), 2**62, 1_000_000, dtype=np.int64), members)
    fpr = bloom.contains_hashes(non).mean()
    assert fpr <= 5e-6, fpr

    def buckets(n):
        return sized_params(C.CuckooParams, n, 4).num_buckets_per_shard

    # 30 key sets at 128 buckets: the (kicks + fp) mod b eviction victim
    # walked a closed cycle there and dropped keys for seed 25
    for boundary_buckets, n_seeds in ((16, 30), (128, 30), (4096, 3)):
        lo, hi = 1, 1 << 20  # last n sized to boundary_buckets per shard
        while hi - lo > 1:
            mid = (lo + hi) // 2
            lo, hi = (mid, hi) if buckets(mid) <= boundary_buckets else (lo, mid)
        for n in (lo, lo + 1):
            params = sized_params(C.CuckooParams, n, 4)
            for seed in range(n_seeds):
                keys = np.random.default_rng(seed).integers(
                    -(2**63), 2**63 - 1, n, dtype=np.int64)
                shard_of = keys.astype(np.uint64) % np.uint64(params.num_shards)
                dropped = sum(C.CuckooFilter(params).add_hashes(keys[shard_of == s])
                              for s in range(params.num_shards))
                assert dropped == 0, (n, seed, dropped)
