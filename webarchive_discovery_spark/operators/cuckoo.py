"""Cuckoo filter: the deletion-capable URL-seen prefilter.

The cuckoo filter (Fan et al., CoNEXT 2014, "Cuckoo Filter: Practically
Better Than Bloom") supports deletion — recrawl expiry removes a URL so the
frontier revisits it, the sliding-window case of "A Learned Cuckoo Filter
for AMQ over Variable-sized Sliding Windows" (SIGMOD 2023) — and takes less
space than the Bloom at low FPR: with bucket size b=4 and load factor α≈0.95
it stores ``f/α`` bits per key where ``FPR ≈ 2b/2^f``, so at the design point
(FPR ≤ 1e-6) f = 23 bits → ~24.2 bits/URL vs the Bloom's 28.8 — and a
membership probe touches exactly TWO buckets (two cache lines) instead of
k = 20 scattered bits.  The crawl loop probes it once the Bloom matrix
outgrows broadcast.  Like the Bloom it is a *prefilter* whose negative
answer is definitive; positives are confirmed against the exact seen-set,
so correctness never depends on the FPR.

Partial-key cuckoo hashing: each key stores only a fingerprint
``fp = low bits of splitmix64(hash) (0 remapped — 0 marks an empty slot;
the remix keeps fp independent of the low-bit shard selector)`` in one of
two buckets ``i1 = high bits mod m`` and ``i2 = i1 XOR H(fp)``; the pair
{i1, i2} is recoverable from (bucket, fp) alone, which is what makes
deletion and shard-merge possible without the original keys.  Eviction
victims are chosen DETERMINISTICALLY ((kicks + fp) mod b) — no RNG in
executors; the physical slot layout depends on insertion order but the
MEMBERSHIP SET does not, which is the property the seen-set contract needs.

Sharding uses the scaffold shared with the Bloom (``bloom.build_shards`` /
``bloom.probe_shards``): shard id = ``hash mod num_shards``, one task builds
one shard's whole table, probes cogroup rows with their shard — the full
matrix never exists in one place.  This module supplies only the per-shard
kernels; ``bloom.sized_params`` sizes both families from the membership
set.  At 1e10 URLs / 1024 shards a shard's table is 64 MiB (2^22 buckets ×
4 × uint32).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from .bloom import build_shards, probe_shards

__all__ = ["CuckooParams", "CuckooFilter", "build_cuckoo_shards",
           "cuckoo_negative_filter_sharded"]

_FP_MULT = np.uint64(0x5BD1E995)  # odd multiplier scrambles fp → bucket offset


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (public domain, Steele et al.) — a 64-bit
    bijection.  Sharding selects on ``hash mod num_shards`` (low bits), so
    deriving the fingerprint from the RAW low bits would pin
    log2(num_shards) of its bits constant within a shard and inflate the
    effective FPR by the same factor (measured 4.0e-4 vs ~5.9e-6 expected
    at 64 shards).  Remixing first makes fingerprint and bucket bits
    independent of the shard selector; build and probe share the remix, so
    the no-false-negative contract is untouched."""
    z = h.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


@dataclass(frozen=True)
class CuckooParams:
    n_capacity: int
    fpr: float = 1e-6
    num_shards: int = 16
    bucket_size: int = 4
    load_factor: float = 0.95
    max_kicks: int = 500

    def __post_init__(self):
        if self.num_shards & (self.num_shards - 1):
            raise ValueError(f"num_shards must be a power of two, got {self.num_shards}")

    @property
    def fp_bits(self) -> int:
        """FPR ≈ 2b/2^f  ⇒  f = ceil(log2(2b / fpr)); ≤ 30 so fp fits uint32
        with headroom and never collides with the empty marker."""
        return min(30, max(4, math.ceil(math.log2(2 * self.bucket_size / self.fpr))))

    @property
    def num_buckets_per_shard(self) -> int:
        """Power of two (i2 = i1 XOR offset must stay in range) sized so the
        HEAVIEST shard holds its keys at ``load_factor``: ``hash mod
        num_shards`` spreads the keys binomially, and a shard above the
        size it was built for overflows and aborts the build, so it is
        sized for its mean share + 6σ (+6 for tiny sets)."""
        mean = self.n_capacity / self.num_shards
        heaviest = mean + 6 * math.sqrt(mean) + 6
        need = max(1.0, heaviest / (self.bucket_size * self.load_factor))
        return 1 << max(1, math.ceil(math.log2(need)))

    @property
    def shard_bytes(self) -> int:
        return self.num_buckets_per_shard * self.bucket_size * 4  # uint32 slots


class CuckooFilter:
    """One shard's table: (num_buckets, bucket_size) uint32, 0 = empty."""

    def __init__(self, params: CuckooParams, table: np.ndarray | None = None):
        self.params = params
        self.table = (
            table
            if table is not None
            else np.zeros(
                (params.num_buckets_per_shard, params.bucket_size), dtype=np.uint32
            )
        )

    # --- hash splitting ---------------------------------------------------
    def _fp_and_index(self, hashes: np.ndarray):
        h = _splitmix64(hashes.astype(np.uint64))
        mask = np.uint64((1 << self.params.fp_bits) - 1)
        fp = (h & mask).astype(np.uint32)
        fp[fp == 0] = 1  # 0 marks empty slots
        m = np.uint64(self.params.num_buckets_per_shard)
        i1 = ((h >> np.uint64(32)) % m).astype(np.int64)
        return fp, i1

    def _alt_index(self, i: np.ndarray | int, fp: np.ndarray | np.uint32):
        m_mask = self.params.num_buckets_per_shard - 1
        offset = (np.uint64(fp) * _FP_MULT) & np.uint64(m_mask)
        return (np.int64(i) ^ offset.astype(np.int64)) & m_mask

    # --- operations ---------------------------------------------------------
    def add_hashes(self, hashes: np.ndarray) -> int:
        """Insert; returns the number of keys DROPPED after ``max_kicks``
        evictions (0 when sized within capacity — asserted in tests at the
        design load factor).  A dropped key would be a false negative, so
        the sharded builder treats drops as a hard error.

        Bulk inserts run a VECTORIZED two-choice pass first (stable-sorted
        placement into each bucket's free slots for i1, then i2 — numpy
        throughout), which places ~all keys below the design load factor;
        only the residue needs the sequential eviction loop.  Which of
        {i1, i2} holds a fingerprint never affects membership (probes check
        both), so the fast path preserves the seen-set contract exactly."""
        fp, i1 = self._fp_and_index(hashes)
        fp, i1 = self._bulk_two_choice(fp, i1)
        return sum(not self._insert(np.uint32(f), int(i)) for f, i in zip(fp, i1))

    def _insert(self, f: np.uint32, i: int) -> bool:
        """Place fingerprint ``f`` in bucket ``i`` or its alternate, else
        evict deterministically for up to ``max_kicks`` rounds.  False when
        the last evicted fingerprint found no slot — it is then lost.  The
        victim slot is a hash of (fp, kicks): ``(kicks + fp) mod b`` can
        walk a closed cycle and drop keys at ~0.8 load."""
        table, b = self.table, self.params.bucket_size
        for idx in (i, int(self._alt_index(i, f))):
            empty = np.nonzero(table[idx] == 0)[0]
            if empty.size:
                table[idx, empty[0]] = f
                return True
        idx = i
        for kicks in range(self.params.max_kicks):
            victim = ((int(f) * 0x9E3779B1 + kicks * 0x85EBCA77) >> 7) % b
            f, table[idx, victim] = table[idx, victim], f
            idx = int(self._alt_index(idx, f))
            empty = np.nonzero(table[idx] == 0)[0]
            if empty.size:
                table[idx, empty[0]] = f
                return True
        return False

    def _bulk_two_choice(self, fp: np.ndarray, i1: np.ndarray):
        """Vectorized first phase of bulk insert: place as many keys as fit
        directly into the free slots of their primary then alternate
        buckets; return the (fp, i1) residue for the eviction loop.
        Deterministic: stable sorts only."""
        table, b = self.table, self.params.bucket_size
        for attempt in range(2):
            if len(fp) == 0:
                return fp, i1
            buckets = i1 if attempt == 0 else self._alt_index(i1, fp)
            empty = table == 0
            free = empty.sum(axis=1)
            # rank of each key within its target bucket (stable by input)
            order = np.argsort(buckets, kind="stable")
            sb = buckets[order]
            run_start = np.flatnonzero(np.r_[True, sb[1:] != sb[:-1]])
            run_len = np.diff(np.r_[run_start, len(sb)])
            ranks = np.arange(len(sb)) - np.repeat(run_start, run_len)
            placeable = ranks < free[sb]
            if placeable.any():
                # rank-th free slot per bucket: empties-first column order
                slot_order = np.argsort(~empty, axis=1, kind="stable")
                rows = sb[placeable]
                cols = slot_order[rows, ranks[placeable]]
                table[rows, cols] = fp[order][placeable]
            rest = order[~placeable]
            fp, i1 = fp[rest], i1[rest]
        return fp, i1

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_index(hashes)
        i2 = self._alt_index(i1, fp)
        fpc = fp[:, None]
        return (self.table[i1] == fpc).any(axis=1) | (self.table[i2] == fpc).any(axis=1)

    def remove_hashes(self, hashes: np.ndarray) -> int:
        """Delete one fingerprint occurrence per key (either bucket).
        Removing a never-added key is UNDEFINED (it may delete another key's
        colliding fingerprint): only confirmed members are fed here.
        Returns how many were found."""
        fp, i1 = self._fp_and_index(hashes)
        removed = 0
        for j in range(len(fp)):
            f = np.uint32(fp[j])
            for idx in (int(i1[j]), int(self._alt_index(int(i1[j]), f))):
                row = self.table[idx]
                hit = np.nonzero(row == f)[0]
                if hit.size:
                    row[hit[0]] = 0
                    removed += 1
                    break
        return removed

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting the other table's fingerprints: {i, i XOR
        H(fp)} is invariant, so an entry found in bucket ``j`` re-inserts
        with ``j`` as one of its two buckets — no original keys needed."""
        out = CuckooFilter(self.params, self.table.copy())
        bi, _ = np.nonzero(other.table)
        fps = other.table[other.table != 0]
        for f, i in zip(fps, bi):
            if not out._insert(np.uint32(f), int(i)):
                raise ValueError("cuckoo merge overflow — resize before merging")
        return out

    @property
    def load(self) -> float:
        return float((self.table != 0).mean())


def build_cuckoo_shards(df: DataFrame, hash_col: str, params: CuckooParams) -> DataFrame:
    """Fully-distributed build (see :func:`bloom.build_shards`): each task
    builds its whole shard's table in isolation.  Returns ``(shard_id int,
    table binary)`` — durable (parquet next to the seen-set snapshot),
    mergeable via :meth:`CuckooFilter.merge`.  Raises in the task if any key
    is dropped (a drop would break the no-false-negative contract); size
    ``params`` from the membership set (``bloom.sized_params``), whose
    buckets absorb the shard skew."""

    def kernel(shard_id: int, h: np.ndarray) -> bytes:
        filt = CuckooFilter(params)
        dropped = filt.add_hashes(h)
        if dropped:
            raise ValueError(
                f"cuckoo shard {shard_id} overflow: {dropped} keys dropped "
                f"(load {filt.load:.3f}) — raise n_capacity"
            )
        return filt.table.tobytes()

    return build_shards(df, hash_col, params.num_shards, kernel, "table")


def cuckoo_negative_filter_sharded(
    spark_df: DataFrame, hash_col: str, shards: DataFrame, params: CuckooParams
) -> DataFrame:
    """Cogrouped probe over :func:`build_cuckoo_shards` output (see
    :func:`bloom.probe_shards`): each task holds exactly one shard's table
    plus its rows.  Adds ``maybe_seen`` boolean; ``false`` ⇒ definitely
    unseen (no-false-negative contract)."""
    shape = (params.num_buckets_per_shard, params.bucket_size)

    def kernel(shard: bytes, h: np.ndarray) -> np.ndarray:
        table = np.frombuffer(shard, dtype=np.uint32).reshape(shape)
        return CuckooFilter(params, table).contains_hashes(h)

    return probe_shards(spark_df, hash_col, shards, params.num_shards, kernel, "table")
