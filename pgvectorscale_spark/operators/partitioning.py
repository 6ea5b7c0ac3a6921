"""Collision-free fan-out partitioning for one-task-per-shard stages.

``repartition(n, "shard")`` hash-partitions the ``n`` distinct shard ids
with Murmur3 — and hashing n keys into n buckets collides badly (balls in
bins): at n=8 only 5 partitions are occupied and the worst one holds 3
shards, at n=64 the worst holds 4, at n=512 the worst holds 5. A stage
that is supposed to run one task per shard instead runs in max-load
*waves* while most of the cluster idles — a 2-4x slowdown of every
"one task per shard" stage (build, probe, insert), invisible at a glance
because the partition count looks right (spark_optimization_guide §2.5:
synthetic partitioning keys with too few distinct values).

Fix: assign each key a PROXY integer chosen so that
``pmod(murmur3(proxy), n)`` enumerates every partition exactly once, and
repartition on the proxy column instead. The proxy search runs
driver-side against a bit-exact Python twin of Spark's Murmur3 int hash
(``spark_int_hash`` — pinned against ``F.hash`` by
tests/test_partitioning.py), expected O(n log n) probes (coupon
collector). Correctness never depends on the mapping: consumers still
group by the real shard column; the proxy only balances placement.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "spark_int_hash",
    "spark_xxhash64_long",
    "spark_pmod_xxhash64",
    "collision_free_proxies",
    "proxy_partition_col",
]


def spark_int_hash(x: int, seed: int = 42) -> int:
    """Bit-exact twin of Spark's ``hash()`` for a single IntegerType column
    (Murmur3_x86_32.hashInt with seed 42, finalized with length 4)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = (seed & 0xFFFFFFFF) ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # total bytes hashed
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h if h < 2**31 else h - 2**32


def collision_free_proxies(keys: Sequence[int]) -> dict[int, int]:
    """Proxy value per key such that ``pmod(hash(proxy), len(keys))`` is a
    bijection onto 0..len(keys)-1 — i.e. ``repartition(len(keys), proxy)``
    places each key's rows in its own partition. Deterministic (keys are
    assigned slots in iteration order, proxies probed from 0 upward)."""
    n = len(keys)
    used: set[int] = set()
    out: dict[int, int] = {}
    v = 0
    for key in keys:
        while True:
            slot = spark_int_hash(v) % n  # Python % == Spark pmod for n > 0
            v += 1
            if slot not in used:
                used.add(slot)
                out[int(key)] = v - 1
                break
    return out


def proxy_partition_col(key_col: Column, keys: Sequence[int]) -> Column:
    """A column mapping ``key_col`` through :func:`collision_free_proxies`
    (an int-keyed map literal). Rows whose key is not in ``keys`` (cannot
    happen at the call sites — keys enumerate the shard domain) fall back
    to the raw key, which at worst degrades to the old collided placement."""
    proxies = collision_free_proxies(keys)
    m = F.create_map(
        *[F.lit(x) for kv in proxies.items() for x in (int(kv[0]), int(kv[1]))]
    )
    return F.coalesce(m[key_col.cast("int")], key_col.cast("int"))


_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_xxhash64_long(ids, seed: int = 42) -> np.ndarray:
    """Bit-exact, vectorized twin of Spark's ``xxhash64()`` over a single
    LongType column (XXH64.hashLong with seed 42). Lets the driver compute
    hash shards and routing-sidecar buckets for ids it already holds
    without a Spark job (pinned against ``F.xxhash64`` by
    tests/test_partitioning.py)."""
    x = np.asarray(ids, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = np.full(x.shape, np.uint64(seed & 0xFFFFFFFFFFFFFFFF) + _XXH_P5 + np.uint64(8))
        h ^= _rotl64(x * _XXH_P2, 31) * _XXH_P1
        h = _rotl64(h, 27) * _XXH_P1 + _XXH_P4
        h ^= h >> np.uint64(33)
        h *= _XXH_P2
        h ^= h >> np.uint64(29)
        h *= _XXH_P3
        h ^= h >> np.uint64(32)
    return h.astype(np.int64)


def spark_pmod_xxhash64(ids, n: int) -> np.ndarray:
    """``pmod(xxhash64(cast(id as long)), n)`` as int64 — the hash-shard
    and sidecar-bucket function (numpy's % is a floor mod, i.e. pmod)."""
    return spark_xxhash64_long(ids) % np.int64(n)
