"""Partitioned Bloom filter for URL-seen membership.

North-rule component: URL-seen via a partitioned Bloom filter (FPR ≤ 1e-6 at
the 1e10-URL design point) maintained as broadcast shards alongside an exact
seen-set table.  The Bloom is a *prefilter*: a negative answer is definitive
("definitely new"), positives are confirmed against the exact seen-set with
an anti-join — so correctness never depends on the FPR, only shuffle volume
does.  This generalizes the reference's dedup-by-digest URL-seen semantics
(``MDXReduplicatingReducer.java:72-152``, ``PersistLogMapper.java:117-143``).

One build, two tiers.  Every tier builds through the shard scaffold
(``build_shards``): shard id = ``url_hash mod num_shards``, one task builds
one shard's bit array.  Broadcast (``build_bloom`` /
``bloom_negative_filter``): the shards are collected into the driver's bit
matrix and broadcast — right while the whole matrix fits in memory.  Sharded
(``build_bloom_shards`` / ``bloom_negative_filter_sharded``): the probe
cogroups rows with their shard (``probe_shards``), so the full matrix never
exists in one process.  The scaffold is shared with the cuckoo filter
(``operators.cuckoo``); each family supplies only its per-shard kernels.
``frontier.url_seen_split`` verifies the positives of any of them.
Deletion (recrawl expiry) is the cuckoo filter's job
(``CuckooFilter.remove_hashes``).

Both families are sized from the membership set they are built from
(:func:`sized_params`), so FPR 1e-6 holds at every seen-set size.  At the
1e10 design point the Bloom total is m = n·ln(1e-6)/ln(2)² ≈ 28.8 bits/URL
→ ~36 GB split over 1024 shards of ~35 MB — each executor holds only the
shards it probes, and k = 20 probes stay in one or two cache lines per URL
because we derive all k indexes from one 64-bit hash (Kirsch–Mitzenmacher
double hashing).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

__all__ = [
    "BloomParams",
    "PartitionedBloom",
    "build_bloom",
    "bloom_negative_filter",
    "build_bloom_shards",
    "bloom_negative_filter_sharded",
    "build_shards",
    "probe_shards",
    "sized_params",
]

#: URL-seen prefilter false-positive rate: the north-star bound.
SEEN_FPR = 1e-6
#: One shard's byte budget: 1e10 URLs at :data:`SEEN_FPR` → 1024 Bloom
#: shards of ~35 MB (cuckoo: 64 MiB).
SHARD_MAX_BYTES = 64 << 20


@dataclass(frozen=True)
class BloomParams:
    n_capacity: int
    fpr: float = 1e-6
    num_shards: int = 16

    def __post_init__(self):
        # power-of-two so unsigned mod (PartitionedBloom, uint64) and signed
        # pmod (the sharded DataFrame ops) pick identical shards for negative
        # 64-bit hashes: both reduce to h & (num_shards-1)
        if self.num_shards & (self.num_shards - 1):
            raise ValueError(f"num_shards must be a power of two, got {self.num_shards}")

    @property
    def m_bits_per_shard(self) -> int:
        m_total = max(64, int(-self.n_capacity * math.log(self.fpr) / (math.log(2) ** 2)))
        per = (m_total + self.num_shards - 1) // self.num_shards
        return ((per + 63) // 64) * 64  # round to whole words

    @property
    def k_hashes(self) -> int:
        # log2(1/fpr), the optimum (m/n)·ln 2 before m is rounded up to
        # whole words; from the rounded m, 1 member over 64 shards gave 2839
        return max(1, round(-math.log2(self.fpr)))

    @property
    def shard_bytes(self) -> int:
        return self.m_bits_per_shard // 8


def sized_params(params_cls, n: int, parallelism: int):
    """``params_cls(n, SEEN_FPR, num_shards)`` (:class:`BloomParams` or
    ``cuckoo.CuckooParams``) for a membership set of ``n ≥ 1`` keys:
    ``num_shards`` is the smallest power of two ≥ ``parallelism`` whose
    ``shard_bytes`` fits :data:`SHARD_MAX_BYTES`."""
    num_shards = 1 << max(0, parallelism - 1).bit_length()
    while (params := params_cls(n, SEEN_FPR, num_shards)).shard_bytes > SHARD_MAX_BYTES:
        num_shards *= 2
    return params


def _shard_probe_masks(hashes: np.ndarray, params: BloomParams):
    """(word index, bit mask) of each of the k probes within a hash's shard.
    Kirsch–Mitzenmacher: index_i = (h1 + i*h2) mod m from one 64-bit hash."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd-ish second hash
    i = np.arange(params.k_hashes, dtype=np.uint64)[:, None]
    idx = ((h1[None, :] + i * h2[None, :]) % np.uint64(params.m_bits_per_shard)).astype(np.int64)
    return idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64)


class PartitionedBloom:
    """num_shards × (m_bits/64) uint64 bit matrix (row i = shard i) with the
    broadcast probe's contains kernel."""

    def __init__(self, params: BloomParams, bits: np.ndarray | None = None):
        self.params = params
        words = params.m_bits_per_shard // 64
        self.bits = (
            bits
            if bits is not None
            else np.zeros((params.num_shards, words), dtype=np.uint64)
        )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        p = self.params
        h = hashes.astype(np.uint64)
        shard = (h % np.uint64(p.num_shards)).astype(np.int64)
        word, mask = _shard_probe_masks(h, p)
        out = np.ones(len(h), dtype=bool)
        for ki in range(p.k_hashes):
            out &= (self.bits[shard, word[ki]] & mask[ki]) != 0
        return out


def build_bloom(df: DataFrame, hash_col: str, params: BloomParams) -> PartitionedBloom:
    """Broadcast-tier build: the sharded build (:func:`build_bloom_shards`)
    collected into the driver's matrix, one row per non-empty shard.  Right
    when the FULL matrix fits driver+executor memory (≲1e9 URLs); beyond
    that probe the shards where they are built
    (:func:`bloom_negative_filter_sharded`)."""
    bloom = PartitionedBloom(params)
    for row in build_bloom_shards(df, hash_col, params).collect():
        bloom.bits[row["shard_id"]] = np.frombuffer(row["bits"], dtype=np.uint64)
    return bloom


def bloom_negative_filter(
    spark_df: DataFrame, hash_col: str, bloom: PartitionedBloom
) -> DataFrame:
    """Mark rows by Bloom membership: adds ``maybe_seen`` boolean.
    ``maybe_seen = false`` ⇒ definitely unseen (skip the exact anti-join)."""
    sc = spark_df.sparkSession.sparkContext
    b_bits = sc.broadcast(bloom.bits)
    params = bloom.params

    @F.pandas_udf(BooleanType())
    def probe(h: pd.Series) -> pd.Series:
        local = PartitionedBloom(params, b_bits.value)
        return pd.Series(local.contains_hashes(h.to_numpy(dtype=np.int64)))

    return spark_df.withColumn("maybe_seen", probe(F.col(hash_col)))


def _shard_of(hash_col: str, num_shards: int) -> Column:
    """The shard key.  Signed ``pmod`` picks the same shard as the unsigned
    in-memory mod because ``num_shards`` is a power of two."""
    return F.pmod(F.col(hash_col), F.lit(num_shards)).cast("int")


def _grouped_by_shard(df: DataFrame, shard_col: str, num_shards: int) -> GroupedData:
    """Group on ``shard_col`` behind an explicit repartition into
    ``min(num_shards, defaultParallelism)`` partitions.  The shuffled bytes
    are tiny (8 B per hash) but each group runs a real per-shard kernel:
    AQE would coalesce the exchange by byte size and serialize every shard
    onto one task.  A user repartition is never coalesced, and the groupBy
    reuses its exchange."""
    n_parts = min(num_shards, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n_parts, shard_col).groupBy(shard_col)


def build_shards(
    df: DataFrame,
    hash_col: str,
    num_shards: int,
    kernel: Callable[[int, np.ndarray], bytes],
    out_col: str,
) -> DataFrame:
    """Shared shard build of the URL-seen prefilters: ONE shuffle on
    ``shard_id = pmod(hash, num_shards)``, then each task runs
    ``kernel(shard_id, int64 hashes) -> bytes`` over its whole shard in
    isolation (no partial merge, no driver materialization).  Returns
    ``(shard_id int, <out_col> binary)``; shards that received no hash have
    no row.  NULL hashes are dropped: an exact join never finds them seen."""

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(key[0])
        h = pdf[hash_col].to_numpy(dtype=np.int64, na_value=0)
        return pd.DataFrame({"shard_id": [shard_id], out_col: [kernel(shard_id, h)]})

    keyed = df.select(hash_col).where(F.col(hash_col).isNotNull()).withColumn(
        "_shard", _shard_of(hash_col, num_shards))
    return _grouped_by_shard(keyed, "_shard", num_shards).applyInPandas(
        build, f"shard_id int, {out_col} binary"
    )


def probe_shards(
    df: DataFrame,
    hash_col: str,
    shards: DataFrame,
    num_shards: int,
    kernel: Callable[[bytes, np.ndarray], np.ndarray],
    in_col: str,
) -> DataFrame:
    """Shared cogrouped probe: rows meet their shard's bytes on
    ``shard_id``, so each task holds exactly ONE shard plus its rows (never
    a bytes-per-row join, never the full matrix).  Adds ``maybe_seen`` =
    ``kernel(shard bytes, int64 hashes)``; ``false`` ⇒ definitely unseen.
    Rows whose shard has no entry (nothing was ever added to it) are
    definitely unseen."""
    out_schema = StructType(df.schema.fields + [StructField("maybe_seen", BooleanType())])
    cols = list(df.columns)

    def probe(key: tuple, rows: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if rows.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        h = rows[hash_col].to_numpy(dtype=np.int64, na_value=0)
        rows = rows[cols].copy()
        rows["maybe_seen"] = (
            False if shard.empty else kernel(bytes(shard[in_col].iloc[0]), h)
        )
        return rows

    left = _grouped_by_shard(
        df.withColumn("_shard", _shard_of(hash_col, num_shards)), "_shard", num_shards
    )
    right = _grouped_by_shard(shards, "shard_id", num_shards)
    return left.cogroup(right).applyInPandas(probe, out_schema)


def build_bloom_shards(df: DataFrame, hash_col: str, params: BloomParams) -> DataFrame:
    """Fully-distributed Bloom build at the 1e10 design point (see
    :func:`build_shards`).  Returns ``(shard_id int, bits binary)`` — the
    durable form (write it to parquet next to the seen-set snapshot for
    resume).  Peak per-task memory = one shard = ``shard_bytes`` (~35 MB at
    the design point with 1024 shards)."""
    return build_shards(
        df, hash_col, params.num_shards, lambda _, h: shard_bits(h, params).tobytes(), "bits"
    )


def shard_bits(hashes: np.ndarray, params: BloomParams) -> np.ndarray:
    """One shard's bit array over the int64 ``hashes`` routed to it."""
    bits = np.zeros(params.m_bits_per_shard // 64, dtype=np.uint64)
    word, mask = _shard_probe_masks(hashes, params)
    for ki in range(params.k_hashes):
        np.bitwise_or.at(bits, word[ki], mask[ki])
    return bits


def bloom_negative_filter_sharded(
    spark_df: DataFrame, hash_col: str, shards: DataFrame, params: BloomParams
) -> DataFrame:
    """Sharded Bloom probe over :func:`build_bloom_shards` output (see
    :func:`probe_shards`).  Adds ``maybe_seen``; ``false`` ⇒ definitely
    unseen."""

    def kernel(shard: bytes, h: np.ndarray) -> np.ndarray:
        bits = np.frombuffer(shard, dtype=np.uint64)
        word, mask = _shard_probe_masks(h, params)
        seen = np.ones(len(h), dtype=bool)
        for ki in range(params.k_hashes):
            seen &= (bits[word[ki]] & mask[ki]) != 0
        return seen

    return probe_shards(spark_df, hash_col, shards, params.num_shards, kernel, "bits")
