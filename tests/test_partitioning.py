"""Round-14 collision-free fan-out partitioning (operators/partitioning.py).

`repartition(n, "shard")` hashes n keys into n partitions and collides
(guide §2.5) — at n=8 only 5 partitions fill and the worst holds 3 shards,
so every "one task per shard" stage ran in max-load waves. These tests pin
the Python Murmur3 twin against Spark's own hash(), the bijection property
of the proxy assignment, and the end-to-end placement: exactly one shard
per partition, all partitions occupied.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvectorscale_spark.operators.partitioning import (
    collision_free_proxies,
    proxy_partition_col,
    spark_int_hash,
    spark_pmod_xxhash64,
    spark_xxhash64_long,
)


def test_python_hash_twin_matches_spark(spark):
    vals = list(range(-64, 600)) + [10**6, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in vals], "v int").select(
        "v", F.hash("v").alias("h")
    )
    got = {r["v"]: r["h"] for r in df.collect()}
    for v in vals:
        assert got[v] == spark_int_hash(v), v


def test_python_xxhash64_twin_matches_spark(spark):
    """The driver-side hash-shard / sidecar-bucket function equals Spark's
    pmod(xxhash64(cast(id as long)), n) on every id, negatives included."""
    rng = np.random.default_rng(7)
    vals = list(range(-64, 600)) + [2**63 - 1, -(2**63), 2**31, -(2**31) - 1]
    vals += [int(v) for v in rng.integers(-(2**62), 2**62, 500)]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v",
        F.xxhash64("v").alias("h"),
        F.pmod(F.xxhash64("v"), F.lit(7)).alias("m7"),
        F.pmod(F.xxhash64("v"), F.lit(64)).alias("m64"),
    )
    got = {r["v"]: (r["h"], r["m7"], r["m64"]) for r in df.collect()}
    arr = np.array(vals, dtype=np.int64)
    h, m7, m64 = (
        spark_xxhash64_long(arr), spark_pmod_xxhash64(arr, 7), spark_pmod_xxhash64(arr, 64)
    )
    for i, v in enumerate(vals):
        assert got[v] == (int(h[i]), int(m7[i]), int(m64[i])), v


@pytest.mark.parametrize("n", [1, 2, 5, 8, 64, 512])
def test_proxies_are_a_bijection(n):
    proxies = collision_free_proxies(list(range(n)))
    assert sorted(proxies) == list(range(n))
    slots = {spark_int_hash(v) % n for v in proxies.values()}
    assert slots == set(range(n))


def test_arbitrary_keys_supported():
    keys = [3, 17, 10**6, -5]
    proxies = collision_free_proxies(keys)
    assert sorted(proxies) == sorted(keys)
    slots = {spark_int_hash(v) % len(keys) for v in proxies.values()}
    assert len(slots) == len(keys)


@pytest.mark.parametrize("n", [4, 8, 16])
def test_one_key_per_partition_end_to_end(spark, n):
    """The raw key collides; the proxy places one key per partition."""
    rows = [(s, i) for s in range(n) for i in range(5)]
    df = spark.createDataFrame(rows, "shard int, x int")
    placed = (
        df.withColumn("_pid", proxy_partition_col(F.col("shard"), range(n)))
        .repartition(n, "_pid")
        .withColumn("p", F.spark_partition_id())
        .select("shard", "p")
        .distinct()
        .collect()
    )
    part_of = {}
    for r in placed:
        part_of.setdefault(r["shard"], set()).add(r["p"])
    # every shard in exactly one partition, no partition shared
    assert all(len(ps) == 1 for ps in part_of.values())
    all_parts = [next(iter(ps)) for ps in part_of.values()]
    assert len(set(all_parts)) == n


def test_search_batch_probe_has_no_fanout_exchange(spark):
    """The serving probe is a range partition per shard: zero Exchange
    below the window, and routed queries only spawn tasks for probed
    shards (partition count == routed shard count)."""
    from pgvectorscale_spark.operators.diskann import DiskannIndex
    from tests.conftest import make_vectors

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        idx = DiskannIndex.build(
            make_vectors(spark, n=240, dim=8),
            f"{tmp}/idx",
            distance_type="l2",
            num_shards=6,
            shard_assignment="kmeans",
        )
        qdf = spark.createDataFrame(
            [(0, [0.1] * 8)], "query_id long, query_vec array<float>"
        )
        full = idx.search_batch(qdf, k=5)
        p = full._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in p
        assert p.count("Exchange") == 1  # only the query_id window shuffle
        # routed: one task per PROBED shard, not per shard
        routed = idx.search_batch(qdf, k=5, probe_shards=2)
        p2 = routed._jdf.queryExecution().executedPlan().toString()
        assert "Range (0, 2" in p2, p2
        # parity with the full fan-out top-1 (same corpus, same kernel)
        assert routed.count() == 5
